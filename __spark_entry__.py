"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes each implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` carries the DuckDB
ANSI-SQL equivalent for the correctness gate.  Column names and rounding are
aligned on both sides (driver hashes values after sorting columns by name).

Query naming: q<nn>_<operator>.  Operators with no SQL-expressible oracle
(MinHash/LSH internals, SimHash, streaming) are registered without an oracle
entry — the driver then records a weaker rows-only check and pytest covers
them against brute-force oracles instead (tests/).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from text_similarity_node_spark.functions import columns as C

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# corpus derivations shared by queries (deterministic, same in SQL oracle)
# ---------------------------------------------------------------------------


def _dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ planted duplicates: every doc_id % 5 == 0 gets an exact
    copy at doc_id+1_000_000 and every doc_id % 7 == 0 a near-dup copy
    (first 12 chars dropped) at doc_id+2_000_000.  Deterministic — the
    DuckDB oracle derives the identical corpus in SQL."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    exact = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    near = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.expr("substring(text, 13)"))
    )
    return docs.unionByName(exact).unionByName(near)


_DEDUP_CORPUS_SQL = """
    SELECT doc_id, text, lang FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 2000000, substring(text, 13), lang FROM documents WHERE doc_id % 7 = 0
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style scan+aggregate: baseline engine plumbing.
    Scale notes: single scan, map-side partial aggregation, 6 aggregates;
    Catalyst pushes the shipdate filter into the parquet scan."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q02_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein verification pass (reference kernel #0) on a
    deterministically pre-filtered candidate set.  The length-difference
    prefilter mirrors the reference's banded-DP early exit
    (levenshtein.cpp:174-178) and is pushed below the join by Catalyst.
    The distance itself is the built-in JVM expression — no Python."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    # Length-bucket join keys: joining on lang alone gives 5 distinct keys —
    # a 5-way-parallel sort-merge join no matter how many cores exist.
    # Bucketing n_chars (width 6 > the ±5 band) and replicating the probe
    # side to its 3 neighboring buckets multiplies key cardinality ~100x,
    # so the quadratic-within-key work spreads across the cluster; each
    # qualifying pair still meets exactly once.
    # The probe side must be spread BEFORE the (broadcast) join: a small
    # corpus arrives as ONE parquet split, and a BroadcastHashJoin's
    # parallelism equals its probe-side partition count — measured 37 s
    # single-task vs ~2 s spread at sf0.1.  (The bucketed keys below
    # spread a sort-merge join; they do nothing for broadcast.)  On a
    # real multi-file table this repartition is a cheap row-count-
    # preserving shuffle of the pruned columns, paid once before the
    # quadratic-within-key DP work.
    par = spark.sparkContext.defaultParallelism
    docs = docs.repartition(par, "doc_id")
    a = docs.withColumn("bk", F.floor(F.col("n_chars") / 6)).alias("a")
    b = docs.withColumn(
        "bk",
        F.explode(
            F.array(
                F.floor(F.col("n_chars") / 6) - 1,
                F.floor(F.col("n_chars") / 6),
                F.floor(F.col("n_chars") / 6) + 1,
            )
        ),
    ).alias("b")
    # Banded DP: sim >= 0.75 means d <= 0.25·max_len, so a band of
    # ceil(0.25·corpus_max)+1 makes the 3-arg built-in exact for every pair
    # the predicate could keep, while dissimilar pairs abandon early
    # (levenshtein.cpp:168-246 semantics; full-DP variant measured 66 s at
    # sf0.1, banded ~8 s).  corpus_max costs one tiny column-pruned scan.
    corpus_max = docs.agg(F.max("n_chars")).collect()[0][0] or 0
    band = int(corpus_max * 0.25) + 2
    lev_sim = F.round(
        C.levenshtein_similarity_banded(F.col("a.text"), F.col("b.text"), band), 6
    )
    # The similarity predicate is placed LAST in the join condition on
    # purpose: codegen evaluates conjuncts left-to-right, so the cheap
    # id/length prunes short-circuit before the O(band·len) DP runs.  (Left
    # as a post-join .filter, Catalyst pushes it into the condition *ahead*
    # of the cheap conjuncts — measured 56s vs 3s at sf0.01.)
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.bk") == F.col("b.bk"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 5)
        & (lev_sim >= 0.75),
    )
    return pairs.select(
        F.col("a.doc_id").alias("doc_id1"),
        F.col("b.doc_id").alias("doc_id2"),
        lev_sim.alias("lev_sim"),
    )


_Q02_SQL = """
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       round(1.0 - levenshtein(a.text, b.text)::DOUBLE
                   / greatest(length(a.text), length(b.text)), 6) AS lev_sim
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 5
WHERE 1.0 - levenshtein(a.text, b.text)::DOUBLE
            / greatest(length(a.text), length(b.text)) >= 0.75
"""


def q03_word_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-based word Jaccard (reference kernel #5, WORD mode,
    token_based.cpp:128-159) as a similarity join, executed through the
    exact prefix-filter join (operators/simjoin.py, recall 1.0 by
    construction) grouped by language — never the quadratic same-lang
    self-join: candidates come from rare shared prefix tokens + length
    filter, so the plan survives a 100x scale-up where lang-keyed
    cross-join (5 distinct keys) dies."""
    from text_similarity_node_spark.operators.simjoin import prefix_filter_jaccard_join

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", "lang", C.word_tokens(F.col("text")).alias("toks")
    )
    pairs = prefix_filter_jaccard_join(
        docs, "doc_id", "toks", threshold=0.9, group_cols=["lang"]
    )
    return pairs.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        F.round(F.col("jaccard"), 6).alias("word_jaccard"),
    )


_Q03_SQL = r"""
WITH t AS (
  SELECT doc_id, lang, list_distinct(regexp_extract_all(text, '\w+')) AS toks
  FROM documents
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       round(len(list_intersect(a.toks, b.toks))::DOUBLE
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
             6) AS word_jaccard
FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
"""


def q04_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset character-trigram Jaccard (reference kernel #5 NGRAM mode —
    the pipeline's verify metric) as an **inverted-index similarity join**:
    explode shingle counts, equi-join on the shingle, aggregate
    sum(min(count)) per pair — the canonical distributed shape (one shuffle
    on the shingle key, partial aggregation map-side).  The per-pair
    map_zip_with formulation measured 62s at sf0.01 (interpreted complex-
    type expressions per probe); this shape runs in seconds and is the one
    that scales: at 10^12 rows you first LSH, then verify over candidates
    — which is exactly q37_ngram_jaccard_scale, the scale-shaped
    registration of these same semantics against the same oracle."""
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.explode(C.char_ngrams(F.col("text"), 3)).alias("g"),
        F.greatest(F.length("text") - 2, F.lit(1)).alias("total"),
    )
    flat = docs.groupBy("doc_id", "lang", "n_chars", "total", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    a, b = flat.alias("a"), flat.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 40),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
        )
        .agg(
            F.sum(F.least(F.col("a.c"), F.col("b.c"))).alias("isz"),
            F.first(F.col("a.total")).alias("t1"),
            F.first(F.col("b.total")).alias("t2"),
        )
    )
    jac = F.round(F.col("isz").cast("double") / (F.col("t1") + F.col("t2") - F.col("isz")), 6)
    return (
        inter.withColumn("ngram_jaccard", jac)
        .filter(F.col("ngram_jaccard") >= 0.55)
        .select("doc_id1", "doc_id2", "ngram_jaccard")
    )


_Q04_SQL = """
WITH grams AS (
  SELECT doc_id, substring(text, i, 3) AS g, count(*) AS c
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i)
  GROUP BY doc_id, substring(text, i, 3)
),
meta AS (
  SELECT doc_id, lang, n_chars, greatest(length(text) - 2, 1) AS total
  FROM documents
),
inter AS (
  SELECT g1.doc_id AS doc_id1, g2.doc_id AS doc_id2,
         sum(least(g1.c, g2.c)) AS isz
  FROM grams g1 JOIN grams g2 ON g1.g = g2.g AND g1.doc_id < g2.doc_id
  GROUP BY g1.doc_id, g2.doc_id
)
SELECT i.doc_id1, i.doc_id2,
       round(i.isz::DOUBLE / (m1.total + m2.total - i.isz), 6) AS ngram_jaccard
FROM inter i
JOIN meta m1 ON m1.doc_id = i.doc_id1
JOIN meta m2 ON m2.doc_id = i.doc_id2
WHERE m1.lang = m2.lang
  AND abs(m1.n_chars - m2.n_chars) <= 40
  AND i.isz::DOUBLE / (m1.total + m2.total - i.isz) >= 0.55
"""


def q05_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy over content (the scale path for
    10^12 rows: shuffle on md5(text), map-side partial counts).  Runs on the
    derived corpus with planted exact duplicates."""
    corpus = _dedup_corpus(spark, sf_dir)
    return (
        corpus.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_copies") > 1)
    )


_Q05_SQL = f"""
WITH corpus AS ({_DEDUP_CORPUS_SQL})
SELECT md5(text) AS text_md5, count(*) AS n_copies, min(doc_id) AS canonical_id
FROM corpus
GROUP BY md5(text)
HAVING count(*) > 1
"""


def q06_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (training-data pipeline op): ASCII word tokens per doc,
    aggregated per language."""
    docs = _load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.size(C.word_tokens(F.col("text"))).alias("n_words"),
        F.length("text").alias("n_chars_real"),
    )
    # Averages are emitted as micro-scaled BIGINTs computed with pure integer
    # arithmetic — (sum*2e6 + n) div (2n) is round-half-up of sum*1e6/n with no
    # float in the chain, so the DuckDB oracle hash matches bit-for-bit
    # (F.round(avg, 6) vs DuckDB round() can land 1 ulp apart on doubles).
    agg = toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_chars_real").alias("total_chars"),
    )
    return (
        agg.select(
            "lang",
            "n_docs",
            "total_words",
            F.expr(
                "(total_words * 2000000 + n_docs) div (2 * n_docs)"
            ).alias("avg_words_micro"),
            F.expr(
                "(total_chars * 2000000 + n_docs) div (2 * n_docs)"
            ).alias("avg_chars_micro"),
        )
        .orderBy("lang")
    )


_Q06_SQL = r"""
WITH agg AS (
  SELECT lang,
         count(*) AS n_docs,
         sum(len(regexp_extract_all(text, '\w+')))::BIGINT AS total_words,
         sum(length(text))::BIGINT AS total_chars
  FROM documents
  GROUP BY lang
)
SELECT lang, n_docs, total_words,
       ((total_words * 2000000 + n_docs) // (2 * n_docs))::BIGINT AS avg_words_micro,
       ((total_chars * 2000000 + n_docs) // (2 * n_docs))::BIGINT AS avg_chars_micro
FROM agg
ORDER BY lang
"""


def q07_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (training-data pipeline op): length, mean word
    length, stopword ratio, alpha ratio -> composite score, low-quality
    docs filtered out."""
    docs = _load(spark, sf_dir, "documents")
    toks = C.word_tokens(F.col("text"))
    n_words = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to"))
    )
    alpha_chars = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    scored = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(stop_hits.cast("double") / n_words, 6).alias("stopword_ratio"),
        F.round(alpha_chars.cast("double") / F.length("text"), 6).alias("alpha_ratio"),
        F.round(
            (F.length("text").cast("double") / (n_words + 1)), 6
        ).alias("avg_token_len"),
    )
    return scored.filter(
        (F.col("n_words") >= 10) & (F.col("alpha_ratio") >= 0.7)
    )


_Q07_SQL = r"""
WITH s AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\w+')) AS n_words,
         round(len(list_filter(regexp_extract_all(text, '\w+'),
                               t -> t IN ('the','a','of','and','to')))::DOUBLE
               / len(regexp_extract_all(text, '\w+')), 6) AS stopword_ratio,
         round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
               / length(text), 6) AS alpha_ratio,
         round(length(text)::DOUBLE
               / (len(regexp_extract_all(text, '\w+')) + 1), 6) AS avg_token_len
  FROM documents
)
SELECT * FROM s WHERE n_words >= 10 AND alpha_ratio >= 0.7
"""


def q08_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (training-data pipeline op): 31-base
    polynomial rolling hash of the codepoint stream, mod 2^31-1 — computed
    entirely JVM-side with aggregate() (a fold), no UDF."""
    docs = _load(spark, sf_dir, "documents")
    codes = F.transform(F.split(F.col("text"), ""), lambda ch: F.ascii(ch))
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c.cast("long")) % 2147483647,
    )
    return docs.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


_Q08_SQL = """
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT, [ord(c)::BIGINT FOR c IN split(text, '')]),
         (a, c) -> (a * 31 + c) % 2147483647
       ) AS fingerprint
FROM documents
ORDER BY doc_id
"""


def q09_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pipeline (orders ⋈ lineitem ⋈ customer): revenue by market
    segment and order priority.  customer is broadcast (small dim)."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("c_mktsegment", "o_orderpriority")
    )


_Q09_SQL = """
SELECT c_mktsegment, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderpriority
ORDER BY c_mktsegment, o_orderpriority
"""


def q10_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search over the embedding column
    (the ANN baseline).  Dot products computed JVM-side via zip_with +
    aggregate; query side (10 vectors) is broadcast so the scan side never
    shuffles.  Deterministic tie-break on rounded score then vec_id."""
    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    scored = scored.select(
        "query_id",
        "vec_id",
        F.round(C.cosine_sim_vec(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


_Q10_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))),
               6) AS cos_sim
  FROM q JOIN e ON e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
"""


def q11_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation over the events stream table (the batch
    form of the streaming rollup in streaming/)."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour", "event_type")
    )


_Q11_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY date_trunc('hour', ts), event_type
ORDER BY hour, event_type
"""


def q12_jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler verification kernel (reference #4) through the
    Arrow-batched pandas UDF — parity-checked against DuckDB's independent
    implementation (boost threshold 0.7, prefix<=4, p=0.1 semantics agree
    with the reference, phonetic.cpp:172-229)."""
    from text_similarity_node_spark.config import Algorithm, AlgorithmConfig
    from text_similarity_node_spark.functions.spark_udfs import similarity_udf

    jw = similarity_udf(AlgorithmConfig(algorithm=Algorithm.JARO_WINKLER))
    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.doc_id") % 7 == 0)
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 10),
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
            F.round(jw(F.col("a.text"), F.col("b.text")), 6).alias("jw_sim"),
        )
        .filter(F.col("jw_sim") >= 0.8)
    )


_Q12_SQL = """
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       round(jaro_winkler_similarity(a.text, b.text), 6) AS jw_sim
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND a.doc_id % 7 = 0 AND abs(a.n_chars - b.n_chars) <= 10
WHERE jaro_winkler_similarity(a.text, b.text) >= 0.8
"""


def q13_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact prefix-filter set-similarity join (operators/simjoin.py) —
    recall 1.0 by construction, so the brute-force SQL oracle must match
    exactly.  This is the deterministic complement to MinHash LSH."""
    from text_similarity_node_spark.operators.simjoin import prefix_filter_jaccard_join

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", C.word_tokens(F.col("text")).alias("toks")
    )
    out = prefix_filter_jaccard_join(docs, "doc_id", "toks", threshold=0.92)
    return out.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        F.round("jaccard", 6).alias("jaccard"),
    )


_Q13_SQL = r"""
WITH t AS (
  SELECT doc_id, list_distinct(regexp_extract_all(text, '\w+')) AS toks
  FROM documents
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       round(len(list_intersect(a.toks, b.toks))::DOUBLE
             / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))),
             6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE len(a.toks) > 0 AND len(b.toks) > 0
  AND len(list_intersect(a.toks, b.toks))::DOUBLE
      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.92
"""


def q14_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (operators/components.py) over the exact-dup
    edge graph of the derived corpus.  Components of a same-text graph are
    exactly the text-equality groups, giving a pure-SQL oracle for the
    iterative min-label propagation."""
    from text_similarity_node_spark.operators.components import connected_components

    corpus = _dedup_corpus(spark, sf_dir)
    a, b = corpus.alias("a"), corpus.alias("b")
    edges = a.join(
        b,
        (F.col("a.text") == F.col("b.text")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
    return connected_components(edges).select(
        F.col("clip_id").alias("doc_id"), F.col("cluster_id").alias("cluster_id")
    )


_Q14_SQL = f"""
WITH corpus AS ({_DEDUP_CORPUS_SQL}),
groups AS (
  SELECT text, min(doc_id) AS cluster_id, count(*) AS n
  FROM corpus GROUP BY text HAVING count(*) >= 2
)
SELECT c.doc_id AS doc_id, g.cluster_id AS cluster_id
FROM corpus c JOIN groups g ON c.text = g.text
"""


def q15_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (operators/text_analysis.py): marker-word
    argmax with fixed priority tie-break."""
    from text_similarity_node_spark.operators.text_analysis import predict_lang

    docs = _load(spark, sf_dir, "documents")
    toks = C.word_tokens(F.col("text"))
    return (
        docs.select("doc_id", predict_lang(toks).alias("pred_lang"))
        .orderBy("doc_id")
    )


def _q15_sql() -> str:
    from text_similarity_node_spark.operators.text_analysis import langid_sql_case

    return (
        f"SELECT doc_id, {langid_sql_case('text')} AS pred_lang "
        "FROM documents ORDER BY doc_id"
    )


def q16_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH candidate generation + exact multiset-Jaccard verify
    (the pipeline's probabilistic scale path).  Verify threshold 0.7 sits
    where the banding S-curve (b=25, r=5) delivers >=0.99 candidate recall
    — verifying below the S-curve's reliable zone would silently miss pairs
    LSH never surfaces.  No SQL oracle — candidate membership is
    probabilistic; recall vs brute force is asserted in
    tests/test_pipeline.py (>= 0.99)."""
    from text_similarity_node_spark.config import PipelineConfig
    from text_similarity_node_spark.operators import lsh, minhash

    cfg = PipelineConfig(
        hot_band_threshold=500, salt_buckets=8, verify_threshold=0.7
    )
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", C.char_ngrams(F.col("text"), cfg.ngram_size).alias("tokens")
    )
    from text_similarity_node_spark.operators.verify import (
        verify_pairs_multiset_jaccard_arrays,
    )

    n_distinct, n_total = minhash.token_stats_cols(F.col("tokens"))
    sig = (
        minhash.with_minhash(docs, "tokens", cfg)
        .withColumn("n_distinct", n_distinct)
        .withColumn("n_total", n_total)
        .select("doc_id", "minhash", "n_distinct", "n_total")
        .persist()  # GC'd plans are unpersisted by the ContextCleaner
    )
    bands = minhash.explode_bands(sig.select("doc_id", "minhash"), "doc_id", "minhash", cfg)
    pairs, _metrics = lsh.candidate_pairs(bands, cfg, id_col="doc_id")
    # multiset-sound signature-agreement prefilter before the gram join:
    # dropped candidates provably cannot pass the exact multiset verify
    # (the per-pair bound M/(T1+T2-M), margin covers estimator variance)
    # — shrinking the verify input is the dominant win at scale.
    pairs = minhash.prefilter_candidates(pairs, sig, cfg, id_col="doc_id")
    verified = verify_pairs_multiset_jaccard_arrays(
        pairs, docs, "doc_id", "tokens", cfg.verify_threshold
    )
    return verified.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q17_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash sketches + pigeonhole Hamming banding (reference cosine
    semantics at scale).  No SQL oracle (custom sketch); rows-only check
    plus pytest property coverage — and q31_simhash_recall_audit carries
    the oracle-checked recall evidence for this pass."""
    from text_similarity_node_spark.config import PipelineConfig
    from text_similarity_node_spark.operators import simhash

    cfg = PipelineConfig(hamming_radius=7)
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", C.char_ngrams(F.col("text"), 3).alias("tokens")
    )
    sk = simhash.with_simhash(docs, "tokens")
    pairs, _dispositions = simhash.simhash_candidates(
        sk.select("doc_id", "simhash"), cfg, id_col="doc_id"
    )
    return pairs.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        F.col("hamming"),
    )


def q18_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed substring/containment pass (operators/suffix.py) over the
    derived corpus, restricted to the regime where the winnowing theorem
    (Schleimer et al., MOSS) makes recall EXACTLY 1.0: any common
    substring of >= window + k - 1 = 47 chars is guaranteed to share a
    fingerprint, so for fully-contained texts of >= 47 chars the candidate
    set provably covers every true pair; the exact instr() verify makes
    precision 1.0.  That determinism is what admits the brute-force SQL
    oracle (full containment IS SQL-expressible).  The fingerprint cap is
    disabled here (exactness-audit mode); the production pipeline keeps
    the cap with drop metrics."""
    from text_similarity_node_spark.operators.suffix import containment_candidates

    corpus = _dedup_corpus(spark, sf_dir)
    cands, _dispositions = containment_candidates(
        corpus, "doc_id", "text", min_len=32, window=16, fingerprint_cap=10**9
    )
    t1 = corpus.select(F.col("doc_id").alias("id1"), F.col("text").alias("t1"))
    t2 = corpus.select(F.col("doc_id").alias("id2"), F.col("text").alias("t2"))
    return (
        cands.join(t1, "id1").join(t2, "id2")
        .filter(F.least(F.length("t1"), F.length("t2")) >= 47)
        .withColumn(
            "contained",
            (F.instr(F.col("t1"), F.col("t2")) > 0) | (F.instr(F.col("t2"), F.col("t1")) > 0),
        )
        .filter(F.col("contained"))
        .select(F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2"))
    )


_Q18_SQL = f"""
WITH corpus AS ({_DEDUP_CORPUS_SQL})
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
FROM corpus a JOIN corpus b ON a.doc_id < b.doc_id
WHERE least(length(a.text), length(b.text)) >= 47
  AND (instr(a.text, b.text) > 0 OR instr(b.text, a.text) > 0)
"""


def q19_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed cosine ANN (operators/ann.py scale path) with
    multiprobe.  No SQL oracle (bucketing is model-defined); its recall vs
    the exact q10 baseline is measured in tests/test_ann.py."""
    from text_similarity_node_spark.operators.ann import cosine_topk_lsh

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_lsh(emb, queries, dim=64, k=5, n_bits=6).select(
        "query_id", "vec_id", "cos_sim", "rank"
    )


def _gram_pair_stats(spark: SparkSession, sf_dir: str, len_band: int):
    """Shared inverted-index pair stats over char trigrams: per same-lang
    pair within the length band, (isz, dot, t1, t2, ssq1, ssq2).  One
    shuffle on the gram key; every multiset measure derives from these."""
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.explode(C.char_ngrams(F.col("text"), 3)).alias("g"),
        F.greatest(F.length("text") - 2, F.lit(1)).alias("total"),
    )
    gc = docs.groupBy("doc_id", "lang", "n_chars", "total", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    ssq = gc.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).alias("ssq"))
    gc = gc.join(ssq, "doc_id")
    a, b = gc.alias("a"), gc.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= len_band),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
        )
        .agg(
            F.sum(F.least(F.col("a.c"), F.col("b.c"))).alias("isz"),
            F.sum(F.col("a.c") * F.col("b.c")).alias("dot"),
            F.first(F.col("a.total")).alias("t1"),
            F.first(F.col("b.total")).alias("t2"),
            F.first(F.col("a.ssq")).alias("ssq1"),
            F.first(F.col("b.ssq")).alias("ssq2"),
        )
    )


_GRAM_PAIR_STATS_SQL = """
WITH grams AS (
  SELECT doc_id, substring(text, i, 3) AS g, count(*) AS c
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i)
  GROUP BY doc_id, substring(text, i, 3)
),
meta AS (
  SELECT doc_id, lang, n_chars, greatest(length(text) - 2, 1) AS total
  FROM documents
),
ssq AS (SELECT doc_id, sum(c * c) AS ssq FROM grams GROUP BY doc_id),
stats AS (
  SELECT g1.doc_id AS doc_id1, g2.doc_id AS doc_id2,
         sum(least(g1.c, g2.c)) AS isz,
         sum(g1.c * g2.c) AS dot
  FROM grams g1 JOIN grams g2 ON g1.g = g2.g AND g1.doc_id < g2.doc_id
  GROUP BY g1.doc_id, g2.doc_id
)
SELECT s.doc_id1, s.doc_id2, s.isz, s.dot,
       m1.total AS t1, m2.total AS t2, q1.ssq AS ssq1, q2.ssq AS ssq2
FROM stats s
JOIN meta m1 ON m1.doc_id = s.doc_id1
JOIN meta m2 ON m2.doc_id = s.doc_id2
JOIN ssq q1 ON q1.doc_id = s.doc_id1
JOIN ssq q2 ON q2.doc_id = s.doc_id2
WHERE m1.lang = m2.lang AND abs(m1.n_chars - m2.n_chars) <= {band}
"""


def q20_multiset_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dice / Overlap / Tversky / Jaccard (reference kernels #5-#8,
    multiset NGRAM semantics) in one pass from shared inverted-index pair
    stats.  Tversky at (0.5,0.5) plus the asymmetric (1,0) and (0,1)
    settings the reference's own differential suite sweeps
    (tests/verify_algorithms.py:568-585); note tversky(1,0) = isz/t1 and
    tversky(0,1) = isz/t2 — direction matters, which is the point."""
    s = _gram_pair_stats(spark, sf_dir, len_band=40)
    isz = F.col("isz").cast("double")
    t1, t2 = F.col("t1").cast("double"), F.col("t2").cast("double")
    return (
        s.select(
            "doc_id1",
            "doc_id2",
            F.round(isz / (t1 + t2 - isz), 6).alias("jaccard"),
            F.round(2 * isz / (t1 + t2), 6).alias("dice"),
            F.round(isz / F.least(t1, t2), 6).alias("overlap"),
            F.round(
                isz / (isz + 0.5 * (t1 - isz) + 0.5 * (t2 - isz)), 6
            ).alias("tversky"),
            F.round(isz / t1, 6).alias("tversky_10"),
            F.round(isz / t2, 6).alias("tversky_01"),
        )
        .filter(F.col("dice") >= 0.7)
    )


_Q20_SQL = (
    "WITH pair_stats AS ("
    + _GRAM_PAIR_STATS_SQL.format(band=40)
    + """)
SELECT doc_id1, doc_id2,
       round(isz::DOUBLE / (t1 + t2 - isz), 6) AS jaccard,
       round(2.0 * isz / (t1 + t2), 6) AS dice,
       round(isz::DOUBLE / least(t1, t2), 6) AS overlap,
       round(isz::DOUBLE / (isz + 0.5 * (t1 - isz) + 0.5 * (t2 - isz)), 6) AS tversky,
       round(isz::DOUBLE / t1, 6) AS tversky_10,
       round(isz::DOUBLE / t2, 6) AS tversky_01
FROM pair_stats
WHERE 2.0 * isz / (t1 + t2) >= 0.7
"""
)


def q21_lnorm_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean/Manhattan token-frequency distances (reference kernels
    #10/#11) with the reference's x1000 integer channel and similarity
    transforms (sim computed FROM the quantized distance,
    vector_based.cpp:260-387).  Uses the multiset identities
    L2^2 = ssq1 + ssq2 - 2*dot and L1 = t1 + t2 - 2*sum(min)."""
    s = _gram_pair_stats(spark, sf_dir, len_band=30)
    l2 = F.sqrt((F.col("ssq1") + F.col("ssq2") - 2 * F.col("dot")).cast("double"))
    l1 = (F.col("t1") + F.col("t2") - 2 * F.col("isz")).cast("double")
    eucl_i = F.floor(l2 * 1000 + F.lit(0.5)).cast("long")
    manh_i = F.floor(l1 * 1000 + F.lit(0.5)).cast("long")
    return (
        s.select(
            "doc_id1",
            "doc_id2",
            eucl_i.alias("eucl_dist_x1000"),
            manh_i.alias("manh_dist_x1000"),
            F.round(F.exp(-(eucl_i.cast("double") / 1000.0)), 6).alias("eucl_sim"),
            F.round(1.0 / (1.0 + manh_i.cast("double") / 1000.0), 6).alias("manh_sim"),
        )
        .filter(F.col("manh_dist_x1000") <= 60_000)
    )


_Q21_SQL = (
    "WITH pair_stats AS ("
    + _GRAM_PAIR_STATS_SQL.format(band=30)
    + """)
SELECT doc_id1, doc_id2,
       floor(sqrt((ssq1 + ssq2 - 2 * dot)::DOUBLE) * 1000 + 0.5)::BIGINT AS eucl_dist_x1000,
       floor((t1 + t2 - 2 * isz)::DOUBLE * 1000 + 0.5)::BIGINT AS manh_dist_x1000,
       round(exp(-(floor(sqrt((ssq1 + ssq2 - 2 * dot)::DOUBLE) * 1000 + 0.5) / 1000.0)), 6) AS eucl_sim,
       round(1.0 / (1.0 + floor((t1 + t2 - 2 * isz)::DOUBLE * 1000 + 0.5) / 1000.0), 6) AS manh_sim
FROM pair_stats
WHERE floor((t1 + t2 - 2 * isz)::DOUBLE * 1000 + 0.5)::BIGINT <= 60000
"""
)


def q22_hamming_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming distance (reference kernel #2: positional mismatches,
    equal-length contract) over fixed 40-char prefixes of same-lang pairs."""
    docs = (
        _load(spark, sf_dir, "documents")
        .filter(F.length("text") >= 40)
        .select("doc_id", "lang", F.expr("substring(text, 1, 40)").alias("p"))
    )
    a, b = docs.alias("a"), docs.alias("b")
    ham = C.hamming_distance_equal_len(F.col("a.p"), F.col("b.p"))
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.doc_id") % 5 == 0)
        & (ham <= 20),
    )
    return pairs.select(
        F.col("a.doc_id").alias("doc_id1"),
        F.col("b.doc_id").alias("doc_id2"),
        ham.alias("hamming"),
        F.round(1.0 - ham.cast("double") / 40.0, 6).alias("hamming_sim"),
    )


_Q22_SQL = """
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       hamming(substring(a.text, 1, 40), substring(b.text, 1, 40)) AS hamming,
       round(1.0 - hamming(substring(a.text, 1, 40), substring(b.text, 1, 40)) / 40.0,
             6) AS hamming_sim
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.doc_id < b.doc_id AND a.doc_id % 5 = 0
WHERE length(a.text) >= 40 AND length(b.text) >= 40
  AND hamming(substring(a.text, 1, 40), substring(b.text, 1, 40)) <= 20
"""


# q23: planted adjacent transpositions.  Swap windows at 1-based positions
# 5/17/29 (the i-th swap active when i < k, k = 1 + doc_id % 3).  The windows
# are disjoint and separated by >= 10 untouched characters, so the OSA
# distance (reference levenshtein.cpp:365-421) provably equals DuckDB's
# *unrestricted* damerau_levenshtein on these pairs: the variants only
# diverge when an optimal script edits inside a transposed pair (CA->ABC),
# which requires overlapping edit windows; any cross-window indel shift must
# resync with a second indel, costing >= 2 to save <= 2 transpositions.
# That equality is what makes a real SQL oracle possible — the identical
# expression below runs through Spark F.expr and DuckDB verbatim.
_Q23_VARIANT_EXPR = (
    "concat(substring(text, 1, 4), "
    "concat(substring(text, 6, 1), substring(text, 5, 1)), "
    "substring(text, 7, 10), "
    "case when doc_id % 3 >= 1 then concat(substring(text, 18, 1), substring(text, 17, 1)) "
    "else substring(text, 17, 2) end, "
    "substring(text, 19, 10), "
    "case when doc_id % 3 >= 2 then concat(substring(text, 30, 1), substring(text, 29, 1)) "
    "else substring(text, 29, 2) end, "
    "substring(text, 31))"
)


def q23_damerau_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damerau-Levenshtein (OSA) verification kernel (reference #1,
    levenshtein.cpp:365-421) through the Arrow-batched pandas UDF, run over
    planted transposition near-dups (k = 1 + doc_id%3 adjacent swaps at
    separated positions — see _Q23_VARIANT_EXPR for why OSA == unrestricted
    DL on this construction, which is what admits the DuckDB oracle).
    Integer distances are emitted so the value hash is float-free.
    OSA-vs-unrestricted *divergence* (CA/ABC) stays covered by pytest
    goldens."""
    from text_similarity_node_spark.config import Algorithm, AlgorithmConfig
    from text_similarity_node_spark.functions.spark_udfs import distance_udf

    dl = distance_udf(AlgorithmConfig(algorithm=Algorithm.DAMERAU_LEVENSHTEIN))
    docs = (
        _load(spark, sf_dir, "documents")
        .filter(F.length("text") >= 30)
        .select("doc_id", "text", F.expr(_Q23_VARIANT_EXPR).alias("variant"))
    )
    return docs.select(
        "doc_id",
        dl(F.col("text"), F.col("variant")).cast("bigint").alias("dl_dist"),
        F.greatest(F.length("text"), F.length("variant")).cast("bigint").alias("max_len"),
    )


_Q23_SQL = f"""
WITH v AS (
  SELECT doc_id, text, {_Q23_VARIANT_EXPR} AS variant
  FROM documents
  WHERE length(text) >= 30
)
SELECT doc_id,
       damerau_levenshtein(text, variant) AS dl_dist,
       greatest(length(text), length(variant)) AS max_len
FROM v
"""


def q24_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency cosine (reference kernel #9, NGRAM mode,
    vector_based.cpp:86-123) from the shared inverted-index pair stats:
    cos = dot / (||a||·||b||), clamped to [0,1].  Same one-shuffle plan as
    q20/q21 — at 10^12 rows the candidate set comes from SimHash banding
    (q17) and this exact kernel verifies."""
    s = _gram_pair_stats(spark, sf_dir, len_band=40)
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("ssq1").cast("double")) * F.sqrt(F.col("ssq2").cast("double"))
    )
    cos = F.least(F.greatest(cos, F.lit(0.0)), F.lit(1.0))
    return (
        s.select(
            "doc_id1",
            "doc_id2",
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.8)
    )


_Q24_SQL = (
    "WITH pair_stats AS ("
    + _GRAM_PAIR_STATS_SQL.format(band=40)
    + """)
SELECT doc_id1, doc_id2,
       round(least(greatest(dot::DOUBLE / (sqrt(ssq1::DOUBLE) * sqrt(ssq2::DOUBLE)), 0.0), 1.0), 6) AS cos_sim
FROM pair_stats
WHERE least(greatest(dot::DOUBLE / (sqrt(ssq1::DOUBLE) * sqrt(ssq2::DOUBLE)), 0.0), 1.0) >= 0.8
"""
)


def q25_chebyshev_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chebyshev L∞ distance over trigram frequency vectors (reference
    kernel #12, vector_based.cpp:391-452; sim = exp(-d), ×1000 integer
    distance channel).  The union-of-frequencies max needs grams present in
    only ONE side, which the equi-join inverted index can't see — so the
    plan uses the signed-union shape: counts of side A as +c, side B as -c,
    groupBy (pair, gram) sum, then max(|diff|).  Two shuffles, both on
    bounded keys; pair set is pre-sampled and broadcast."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    meta = docs.select("doc_id", "lang", "n_chars")
    a, b = meta.alias("a"), meta.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.doc_id") % 6 == 0)
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 30),
    ).select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
    grams = (
        docs.select("doc_id", F.explode(C.char_ngrams(F.col("text"), 3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    g1 = F.broadcast(pairs).join(grams, pairs.id1 == grams.doc_id).select(
        "id1", "id2", "g", F.col("c").alias("sc")
    )
    g2 = F.broadcast(pairs).join(grams, pairs.id2 == grams.doc_id).select(
        "id1", "id2", "g", (-F.col("c")).alias("sc")
    )
    diff = (
        g1.unionByName(g2)
        .groupBy("id1", "id2", "g")
        .agg(F.sum("sc").alias("d"))
    )
    cheb = diff.groupBy("id1", "id2").agg(F.max(F.abs(F.col("d"))).alias("cheb"))
    return cheb.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        (F.col("cheb") * 1000).cast("long").alias("cheb_dist_x1000"),
        F.round(F.exp(-F.col("cheb").cast("double")), 6).alias("cheb_sim"),
    )


_Q25_SQL = """
WITH grams AS (
  SELECT doc_id, substring(text, i, 3) AS g, count(*) AS c
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i)
  GROUP BY doc_id, substring(text, i, 3)
),
meta AS (SELECT doc_id, lang, n_chars FROM documents),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM meta a JOIN meta b
    ON a.lang = b.lang AND a.doc_id < b.doc_id
   AND a.doc_id % 6 = 0 AND abs(a.n_chars - b.n_chars) <= 30
),
signed AS (
  SELECT p.id1, p.id2, g.g, g.c AS sc FROM pairs p JOIN grams g ON g.doc_id = p.id1
  UNION ALL
  SELECT p.id1, p.id2, g.g, -g.c FROM pairs p JOIN grams g ON g.doc_id = p.id2
),
diff AS (SELECT id1, id2, g, sum(sc) AS d FROM signed GROUP BY id1, id2, g)
SELECT id1 AS doc_id1, id2 AS doc_id2,
       (max(abs(d)) * 1000)::BIGINT AS cheb_dist_x1000,
       round(exp(-(max(abs(d))::DOUBLE)), 6) AS cheb_sim
FROM diff GROUP BY id1, id2
"""


def q26_jaro_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro similarity (reference kernel #3, phonetic.cpp:39-168) through
    the Arrow-batched pandas UDF, parity-checked against DuckDB's
    independent jaro_similarity."""
    from text_similarity_node_spark.config import Algorithm, AlgorithmConfig
    from text_similarity_node_spark.functions.spark_udfs import similarity_udf

    jaro = similarity_udf(AlgorithmConfig(algorithm=Algorithm.JARO))
    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.doc_id") % 6 == 0)
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 10),
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
            F.round(jaro(F.col("a.text"), F.col("b.text")), 6).alias("jaro_sim"),
        )
        .filter(F.col("jaro_sim") >= 0.75)
    )


_Q26_SQL = """
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       round(jaro_similarity(a.text, b.text), 6) AS jaro_sim
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND a.doc_id % 6 = 0 AND abs(a.n_chars - b.n_chars) <= 10
WHERE jaro_similarity(a.text, b.text) >= 0.75
"""


def q27_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-payload path end-to-end: synthesize a deterministic
    pcm_s16le payload per doc (seeded sine, Arrow-batched UDF), carry it as
    an opaque BINARY column with typed metadata, decode + RMS through the
    audio operator (operators/audio.py).  The synthesis is analytic, so the
    DuckDB oracle recomputes the identical waveform in SQL — the decode
    plumbing (binary → Arrow → numpy → aggregate) is what's under test.
    Scale: payloads never shuffle (derived and consumed in one stage)."""
    from text_similarity_node_spark.operators.audio import (
        rms_energy_udf,
        synth_sine_pcm_udf as synth,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    clips = docs.select(
        "doc_id",
        synth(F.col("doc_id")).alias("bytes"),
        F.lit(16000).alias("sr_hz"),
        F.lit("pcm_s16le").alias("codec"),
    )
    return clips.select(
        "doc_id",
        (F.length("bytes") / 2).cast("long").alias("n_samples"),
        F.round(rms_energy_udf(F.col("bytes")), 6).alias("rms"),
    ).orderBy("doc_id")


_Q27_SQL = """
WITH samp AS (
  SELECT d.doc_id,
         trunc(16384.0 * sin(2 * pi() * (100 + d.doc_id % 400) * i / 16000.0)) / 32768.0 AS v
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(0, 799)) AS i)
)
SELECT doc_id, 800::BIGINT AS n_samples, round(sqrt(avg(v * v)), 6) AS rms
FROM samp GROUP BY doc_id ORDER BY doc_id
"""


def q28_exact_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level exact dedup through operators/dedup.exact_dedup: every row
    keeps its content-group's canonical id + duplicate flag (the keep/drop
    decision a training-data pipeline applies).  One shuffle on md5(text);
    window-min inside the hash partition."""
    from text_similarity_node_spark.operators.dedup import exact_dedup

    corpus = _dedup_corpus(spark, sf_dir)
    out = exact_dedup(corpus, "doc_id", "text")
    return out.select(
        "doc_id",
        "canonical_id",
        F.col("is_duplicate").cast("int").alias("is_dup"),
    ).orderBy("doc_id")


_Q28_SQL = f"""
WITH corpus AS ({_DEDUP_CORPUS_SQL})
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       (doc_id != min(doc_id) OVER (PARTITION BY md5(text)))::INT AS is_dup
FROM corpus ORDER BY doc_id
"""


def _neardup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ planted near-dups: every vec_id % 9 == 0 gets a scaled
    copy (x*2 — cosine and RHP bucket both scale-invariant, so recall is
    guaranteed) at vec_id+1_000_000, and every vec_id % 13 == 0 an additive
    noisy copy (x+0.002 per element — cos ≈ 0.99987 on these unit vectors,
    varied per vector via its alignment with the ones direction) at
    vec_id+2_000_000.  Pure IEEE +/* so Spark's transform() and DuckDB's
    list_transform produce bit-identical variants."""
    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scaled = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("v", lambda x: x * 2.0).alias("v"),
    )
    noisy = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.transform("v", lambda x: x + 0.002).alias("v"),
    )
    return emb.unionByName(scaled).unionByName(noisy)


_NEARDUP_EMB_SQL = """
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 2.0)
    FROM embeddings WHERE vec_id % 9 = 0
    UNION ALL
    SELECT vec_id + 2000000, list_transform(embedding::DOUBLE[], x -> x + 0.002)
    FROM embeddings WHERE vec_id % 13 = 0
"""


def q29_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (operators/dedup.embedding_neardup):
    random-hyperplane bucket join with 1-bit multiprobe + exact cosine
    filter, over the planted-near-dup corpus.  The brute-force DuckDB oracle
    is exact because (a) the exact-cosine filter makes precision 1.0 by
    construction, (b) planted pairs sit at cos >= 0.9998 while the max
    natural pair is 0.513, so the 0.98 threshold has no boundary cases, and
    (c) scaled copies share their source's bucket exactly and the 0.002
    noise flips at most 1 of 8 hyperplane bits on this (deterministic,
    seeded) corpus, within the 1-bit multiprobe's reach."""
    from text_similarity_node_spark.operators.dedup import embedding_neardup

    emb = _neardup_embeddings(spark, sf_dir)
    pairs = embedding_neardup(emb, "vec_id", "v", dim=64, threshold=0.98, n_bits=8)
    return pairs.select(
        F.col("id1").alias("vec_id1"),
        F.col("id2").alias("vec_id2"),
        F.round(F.col("cos_sim") * 1e6).cast("bigint").alias("cos_sim_micro"),
    )


_Q29_SQL = f"""
WITH corpus AS ({_NEARDUP_EMB_SQL}),
scored AS (
  SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT vec_id1, vec_id2, CAST(round(cos * 1000000) AS BIGINT) AS cos_sim_micro
FROM scored WHERE cos >= 0.98
"""


def q30_char_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-mode cosine (reference kernel #9's ASCII fork,
    vector_based.cpp:161-252: per-character frequency vectors).  Same
    inverted-index shape as q24 with 1-grams: cos = dot / (||a||·||b||)
    over char counts.  One shuffle on the character key."""
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.explode(F.split(F.col("text"), "")).alias("ch"),
    )
    cc = docs.filter(F.col("ch") != "").groupBy("doc_id", "lang", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    ssq = cc.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).alias("ssq"))
    cc = cc.join(ssq, "doc_id")
    a, b = cc.alias("a"), cc.alias("b")
    stats = (
        a.join(
            b,
            (F.col("a.ch") == F.col("b.ch"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
        )
        .agg(
            F.sum(F.col("a.c") * F.col("b.c")).alias("dot"),
            F.first(F.col("a.ssq")).alias("ssq1"),
            F.first(F.col("b.ssq")).alias("ssq2"),
        )
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("ssq1").cast("double")) * F.sqrt(F.col("ssq2").cast("double"))
    )
    cos = F.least(F.greatest(cos, F.lit(0.0)), F.lit(1.0))
    return (
        stats.select("doc_id1", "doc_id2", F.round(cos, 6).alias("char_cos_sim"))
        .filter(F.col("char_cos_sim") >= 0.995)
    )


_Q30_SQL = """
WITH chars AS (
  SELECT doc_id, lang, substring(text, i, 1) AS ch, count(*) AS c
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text))) AS i)
  GROUP BY doc_id, lang, substring(text, i, 1)
),
ssq AS (SELECT doc_id, sum(c * c) AS ssq FROM chars GROUP BY doc_id),
stats AS (
  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, sum(a.c * b.c) AS dot
  FROM chars a JOIN chars b
    ON a.ch = b.ch AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_id1, s.doc_id2,
       round(least(greatest(s.dot::DOUBLE / (sqrt(q1.ssq::DOUBLE) * sqrt(q2.ssq::DOUBLE)), 0.0), 1.0), 6) AS char_cos_sim
FROM stats s
JOIN ssq q1 ON q1.doc_id = s.doc_id1
JOIN ssq q2 ON q2.doc_id = s.doc_id2
WHERE least(greatest(s.dot::DOUBLE / (sqrt(q1.ssq::DOUBLE) * sqrt(q2.ssq::DOUBLE)), 0.0), 1.0) >= 0.995
"""


def q31_simhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable recall audit for the SimHash pass (the pattern a
    production pipeline runs on a small sample): ground truth = all pairs
    with multiset trigram Jaccard >= 0.7 (brute-force array-merge verify
    over every pair — sample-sized inputs only, by design), candidates =
    SimHash pigeonhole banding at Hamming radius 10.  Emits one row
    (n_truth, n_missed); the oracle brute-forces n_truth in SQL and
    asserts n_missed = 0, so the driver hash matches iff the sketch's
    measured recall on this corpus is exactly 1.0.  (q17 remains the
    scale-shaped candidate query; this is its recall evidence.)"""
    from text_similarity_node_spark.config import PipelineConfig
    from text_similarity_node_spark.operators import simhash
    from text_similarity_node_spark.operators.verify import (
        verify_pairs_multiset_jaccard_arrays,
    )

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", C.char_ngrams(F.col("text"), 3).alias("tokens")
    )
    truth = verify_pairs_multiset_jaccard_arrays(
        _audit_allpairs(docs, "doc_id"), docs, "doc_id", "tokens", 0.7
    ).select("id1", "id2").persist()
    cfg = PipelineConfig(hamming_radius=10)
    sk = simhash.with_simhash(docs, "tokens")
    cand, _dispositions = simhash.simhash_candidates(
        sk.select("doc_id", "simhash"), cfg, id_col="doc_id"
    )
    cand = cand.select("id1", "id2")
    found = truth.join(cand, ["id1", "id2"], "left_semi")
    return truth.agg(F.count(F.lit(1)).alias("n_truth")).crossJoin(
        found.agg(F.count(F.lit(1)).alias("_nf"))
    ).select(
        "n_truth", (F.col("n_truth") - F.col("_nf")).alias("n_missed")
    )


_Q31_SQL = r"""
WITH grams AS (
  SELECT doc_id, substring(text, i, 3) AS g, count(*) AS c
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i)
  GROUP BY doc_id, substring(text, i, 3)
),
totals AS (
  SELECT doc_id, greatest(length(text) - 2, 1) AS total FROM documents
),
inter AS (
  SELECT g1.doc_id AS id1, g2.doc_id AS id2, sum(least(g1.c, g2.c)) AS isz
  FROM grams g1 JOIN grams g2 ON g1.g = g2.g AND g1.doc_id < g2.doc_id
  GROUP BY g1.doc_id, g2.doc_id
)
SELECT count(*) AS n_truth, 0::BIGINT AS n_missed
FROM inter i
JOIN totals t1 ON t1.doc_id = i.id1
JOIN totals t2 ON t2.doc_id = i.id2
WHERE i.isz::DOUBLE / (t1.total + t2.total - i.isz) >= 0.7
"""


def q32_audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-CONTENT near-dup pairs via spectral-landmark fingerprinting
    (operators/audio_fp.py) — no transcript involved.  Corpus: one
    deterministic 1-s sine clip per doc (freq = 100 + doc_id % 400 Hz)
    plus seeded noisy copies (~34 dB SNR) at doc_id + 1_000_000 for
    doc_id % 6 == 0.  Two clips are the same recording iff their ids are
    congruent mod 400 — which is the brute-force SQL oracle.  The Spark
    side must recover exactly those pairs from the waveforms alone:
    parabolic peak interpolation holds the frequency estimate within the
    1 Hz quantization step through the jitter, so recall and precision
    are both exactly 1.0 on this corpus (adjacent frequencies are 1 Hz
    apart — a coarser quantizer would merge them and fail the hash)."""
    from text_similarity_node_spark.operators.audio import synth_sine1s_pcm_udf
    from text_similarity_node_spark.operators.audio_fp import audio_fingerprint_pairs

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    synth = synth_sine1s_pcm_udf()
    corpus = (
        base.unionByName(copies)
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    pairs = audio_fingerprint_pairs(
        corpus,
        "doc_id",
        "bytes",
        min_matches=2,
        frame_len=4096,
        hop=2048,
        peaks_per_frame=1,
        fanout=2,
        freq_quant_hz=1.0,
    )
    return pairs.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q32_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 6 = 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
FROM corpus a JOIN corpus b
  ON a.doc_id < b.doc_id AND a.doc_id % 400 = b.doc_id % 400
"""


def q33_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-k at nprobe == n_lists, the provably-
    exact configuration (every query/vector pair rescored exactly once),
    against the same brute-force SQL oracle as q10 — the driver-checked
    anchor that the IVF plumbing (sampled spherical-k-means training,
    list assignment, probe join, rescoring) loses nothing.  Recall at
    nprobe < n_lists (the actual scale regime: scan fraction
    nprobe/n_lists) is measured in tests/test_ann.py."""
    from text_similarity_node_spark.operators.ann import cosine_topk_ivf

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_ivf(
        emb, queries, id_col="vec_id", vec_col="embedding",
        k=5, n_lists=16, nprobe=16,
    ).select("query_id", "vec_id", "cos_sim", "rank")


def q34_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-content near-dup pairs via 64-bit perceptual hash + the
    engine's pigeonhole Hamming banding (operators/image.py) — binary
    column in, no pixel ever shuffled.  Corpus: one deterministic 64x64
    raw_rgb8 block-pattern image per doc (class = doc_id % 40) plus
    seeded noisy re-captures at doc_id + 1_000_000 for doc_id % 6 == 0.
    Two images depict the same pattern iff their ids are congruent mod
    40 — the brute-force SQL oracle.  Exactness: measured pHash
    separation on this family is intra-class Hamming <= 4 vs
    inter-class >= 19, so radius 6 recovers precisely the same-class
    pairs (recall and precision both 1.0)."""
    from text_similarity_node_spark.operators.image import (
        image_neardup,
        synth_image_udf,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    synth = synth_image_udf()
    corpus = (
        base.unionByName(copies)
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn("codec", F.lit("raw_rgb8"))
    )
    pairs = image_neardup(corpus, "doc_id", "bytes", hamming_radius=6)
    return pairs.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q34_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 6 = 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
FROM corpus a JOIN corpus b
  ON a.doc_id < b.doc_id AND a.doc_id % 40 = b.doc_id % 40
"""


_AUDIT_MAX_DOCS = 10_000


def _audit_allpairs(docs: DataFrame, id_col: str) -> DataFrame:
    """All-pairs truth frame for the recall-audit queries (q31/q35).

    Audit truth sides are brute-force BY DESIGN — they exist to certify a
    probabilistic candidate generator against exact ground truth, the way a
    production pipeline audits a sketch on a small sample.  Guarded: fails
    loudly instead of going quadratic if pointed at a production-sized
    input (the driver's correctness gate runs at sf0.01 = 500 docs)."""
    n = docs.count()
    if n > _AUDIT_MAX_DOCS:
        raise ValueError(
            f"recall audit truth side is all-pairs by design and capped at "
            f"{_AUDIT_MAX_DOCS} docs; got {n} — run it on a sample"
        )
    ids = docs.select(F.col(id_col).alias("id1"))
    return ids.crossJoin(docs.select(F.col(id_col).alias("id2"))).filter(
        F.col("id1") < F.col("id2")
    )


def q35_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable recall audit for the MinHash-LSH candidate path in
    its full q16 production shape: signatures (b=25, r=5) -> exploded bands
    -> salted/capped candidate join -> multiset-sound signature-agreement
    prefilter.  Ground truth = all pairs with multiset trigram Jaccard
    >= 0.7 (brute-force array-merge verify, audit-scale guarded).  Emits
    one row (n_truth, n_missed); the oracle brute-forces n_truth in SQL
    and asserts n_missed = 0, so the driver hash matches iff every truth
    pair survives banding AND the prefilter — auditing the prefilter's
    soundness claim, not just the S-curve.  (q16 remains the scale-shaped
    query; this is its recall evidence, the q31 pattern.)"""
    from text_similarity_node_spark.config import PipelineConfig
    from text_similarity_node_spark.operators import lsh, minhash
    from text_similarity_node_spark.operators.verify import (
        verify_pairs_multiset_jaccard_arrays,
    )

    cfg = PipelineConfig(
        hot_band_threshold=500, salt_buckets=8, verify_threshold=0.7
    )
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", C.char_ngrams(F.col("text"), cfg.ngram_size).alias("tokens")
    ).persist()
    truth = verify_pairs_multiset_jaccard_arrays(
        _audit_allpairs(docs, "doc_id"), docs, "doc_id", "tokens",
        cfg.verify_threshold,
    ).select("id1", "id2").persist()

    n_distinct, n_total = minhash.token_stats_cols(F.col("tokens"))
    sig = (
        minhash.with_minhash(docs, "tokens", cfg)
        .withColumn("n_distinct", n_distinct)
        .withColumn("n_total", n_total)
        .select("doc_id", "minhash", "n_distinct", "n_total")
        .persist()
    )
    bands = minhash.explode_bands(
        sig.select("doc_id", "minhash"), "doc_id", "minhash", cfg
    )
    pairs, _metrics = lsh.candidate_pairs(bands, cfg, id_col="doc_id")
    cand = minhash.prefilter_candidates(pairs, sig, cfg, id_col="doc_id")
    found = truth.join(cand.select("id1", "id2"), ["id1", "id2"], "left_semi")
    return truth.agg(F.count(F.lit(1)).alias("n_truth")).crossJoin(
        found.agg(F.count(F.lit(1)).alias("_nf"))
    ).select(
        "n_truth", (F.col("n_truth") - F.col("_nf")).alias("n_missed")
    )


def q36_ann_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable recall audit for the RHP multi-table LSH ANN path
    (q19's operator).  Ground truth = exact brute-force cosine top-5 for
    the 10 audit queries; candidates = cosine_topk_lsh at 16 tables x
    6 bits with Hamming-1 multiprobe — each query scans ~7/64 of each
    table's buckets, NOT a full probe, so recall here is earned by the
    bucketing, not by degenerate exhaustive search.  Emits (n_truth,
    n_missed); the oracle asserts n_missed = 0 (deterministic: seeded
    hyperplanes, fixed corpus).  (q19 remains the scale-shaped query at
    the default 8-table config; this is its recall evidence.)"""
    from text_similarity_node_spark.operators.ann import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, queries_df, k=5).select(
        "query_id", "vec_id"
    ).persist()
    approx = cosine_topk_lsh(
        emb, queries_df, dim=64, k=5, n_bits=6, n_tables=16
    ).select("query_id", "vec_id")
    found = exact.join(approx, ["query_id", "vec_id"], "left_semi")
    return exact.agg(F.count(F.lit(1)).alias("n_truth")).crossJoin(
        found.agg(F.count(F.lit(1)).alias("_nf"))
    ).select(
        "n_truth", (F.col("n_truth") - F.col("_nf")).alias("n_missed")
    )


_Q36_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))),
               6) AS cos_sim
  FROM q JOIN e ON e.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT count(*) AS n_truth, 0::BIGINT AS n_missed FROM ranked WHERE rank <= 5
"""


def _ngram_scale_pairs(docs_in: DataFrame) -> DataFrame:
    """The scale-shaped multiset trigram-Jaccard join shared by q37 and
    q49's tier 2: MinHash LSH candidates (blocking keys folded into the
    band hash) -> multiset-sound signature prefilter -> array-merge exact
    verify.  Input: (doc_id, lang, n_chars, text); output: (id1, id2,
    jaccard) for pairs with same lang, |n_chars diff| <= 40, multiset
    trigram J >= 0.55.  See q37's docstring for the plan rationale."""
    from text_similarity_node_spark.config import PipelineConfig
    from text_similarity_node_spark.operators import lsh, minhash
    from text_similarity_node_spark.operators.verify import (
        verify_pairs_multiset_jaccard_arrays,
    )

    cfg = PipelineConfig(
        minhash_k=200, lsh_bands=40, lsh_rows=5,
        hot_band_threshold=500, salt_buckets=8, verify_threshold=0.55,
    )
    docs = docs_in.select(
        "doc_id", "lang", "n_chars",
        C.char_ngrams(F.col("text"), 3).alias("tokens"),
    )
    n_distinct, n_total = minhash.token_stats_cols(F.col("tokens"))
    sig = (
        minhash.with_minhash(docs, "tokens", cfg)
        .withColumn("n_distinct", n_distinct)
        .withColumn("n_total", n_total)
        .select("doc_id", "minhash", "n_distinct", "n_total")
        .persist()  # two consumers (bands + prefilter); ContextCleaner unpersists
    )
    meta = docs.select("doc_id", "lang", "n_chars")
    meta_bk = F.broadcast(
        meta.select(
            "doc_id", "lang", F.floor(F.col("n_chars") / 40).alias("_bk")
        )
    )
    base_bands = minhash.explode_bands(
        sig.select("doc_id", "minhash"), "doc_id", "minhash", cfg
    ).join(meta_bk, "doc_id")
    probe = base_bands.select(
        "doc_id", "band_id",
        F.xxhash64("band_hash", "lang", "_bk").alias("band_hash"),
    )
    build = base_bands.withColumn(
        "_bke", F.explode(F.array(F.col("_bk"), F.col("_bk") + 1))
    ).select(
        "doc_id", "band_id",
        F.xxhash64("band_hash", "lang", "_bke").alias("band_hash"),
    )
    pairs, _metrics = lsh.candidate_pairs(
        probe, cfg, id_col="doc_id", right_bands=build
    )
    pairs = (
        pairs
        .join(
            meta.select(
                F.col("doc_id").alias("id1"),
                F.col("lang").alias("_l1"),
                F.col("n_chars").alias("_c1"),
            ),
            "id1",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("id2"),
                F.col("lang").alias("_l2"),
                F.col("n_chars").alias("_c2"),
            ),
            "id2",
        )
        .filter(
            (F.col("_l1") == F.col("_l2"))
            & (F.abs(F.col("_c1") - F.col("_c2")) <= 40)
        )
        .select("id1", "id2")
    )
    pairs = minhash.prefilter_candidates(pairs, sig, cfg, id_col="doc_id")
    return verify_pairs_multiset_jaccard_arrays(
        pairs, docs.select("doc_id", "tokens"), "doc_id", "tokens",
        cfg.verify_threshold,
    )


def q37_ngram_jaccard_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q04's exact semantics (multiset character-trigram Jaccard >= 0.55,
    same lang, |n_chars diff| <= 40) through the SCALE-SHAPED plan: MinHash
    LSH candidates -> blocking-predicate prune -> multiset-sound signature
    prefilter -> array-merge exact verify.  This is the plan you would run
    at 100x: q04's bare inverted-index join equi-joins on raw shingles and
    explodes on low-entropy grams, while here every candidate comes from a
    banded equi-join with the cap/salt disposition ledger.

    Shares q04's oracle SQL — so the driver checks that the probabilistic
    candidate path reproduces the exact join's rows bit-for-bit.  Banding
    b=40/r=5 was chosen empirically: seeds and testdata are deterministic,
    and at sf0.01 the candidate set covers all 42 truth pairs (measured
    recall 1.0; min truth set-J 0.551 on this corpus).  The corpus is
    template-heavy (median background set-J 0.44), so candidate-set
    precision is inherently poor at the band stage — the multiset-sound
    prefilter (operators/minhash.py:152) is what restores selectivity by
    dropping set-high/multiset-low junk the exact verify would reject.
    Reference semantics: src/algorithms/token_based.cpp:30-43 (NGRAM
    multiset mode).

    The candidate machinery lives in _ngram_scale_pairs (shared with
    q49's tier 2).  Blocking-key folding note: truth requires lang
    equality and |n_chars diff| <= 40, so both fold into the band hash —
    lang exactly, the length window via width-40 buckets with the
    adjacent-bucket build expansion ({b, b+1} on the build side, so any
    in-window pair meets in at least one direction of the asymmetric
    probe/build join).  A 2^-64 xxhash64 collision can only ADD a
    candidate (the exact verify rejects it), never lose one."""
    verified = _ngram_scale_pairs(
        _load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars", "text"
        )
    )
    return verified.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        F.round("jaccard", 6).alias("ngram_jaccard"),
    )


def q38_char_cosine_nonascii_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-mode cosine, NON-ASCII fork (reference kernel #9,
    vector_based.cpp:125-159): when either string contains a non-ASCII
    character the reference computes BINARY-PRESENCE cosine over distinct
    characters, |A∩B|/sqrt(|A|·|B|) — not the frequency cosine of the
    ASCII fork (q30).  The documented textdistance-compat quirk.

    Corpus derivation (deterministic, no external data): the head of each
    document (24 chars — short enough that distinct-char sets differ
    between docs; full texts saturate the alphabet and every cosine is
    ~1.0) with vowels mapped to accented forms via translate, which makes
    every derived string non-ASCII and forces the fork.  Plan: one
    distinct-char explode, inverted-index equi-join on (char, lang), count
    = |A∩B| — one shuffle on the char key, same scale shape as q30."""
    s = F.translate(F.substring(F.col("text"), 1, 24), "aeiou", "äéíöü")
    chars = (
        _load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.explode(F.array_distinct(F.split(s, ""))).alias("ch"),
        )
        .filter(F.col("ch") != "")
    )
    sizes = chars.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    chars = chars.join(sizes, "doc_id")
    a, b = chars.alias("a"), chars.alias("b")
    stats = (
        a.join(
            b,
            (F.col("a.ch") == F.col("b.ch"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
        )
        .agg(
            F.count(F.lit(1)).alias("isz"),
            F.first(F.col("a.n")).alias("n1"),
            F.first(F.col("b.n")).alias("n2"),
        )
    )
    cos = F.col("isz").cast("double") / F.sqrt(
        (F.col("n1") * F.col("n2")).cast("double")
    )
    return (
        stats.select(
            "doc_id1", "doc_id2", F.round(cos, 6).alias("char_cos_nonascii")
        )
        .filter(F.col("char_cos_nonascii") >= 0.9)
    )


_Q38_SQL = """
WITH s AS (
  SELECT doc_id, lang,
         translate(substring(text, 1, 24), 'aeiou', 'äéíöü') AS s
  FROM documents
),
chars AS (
  SELECT DISTINCT doc_id, lang, substring(s, i, 1) AS ch
  FROM s, LATERAL (SELECT unnest(generate_series(1, length(s))) AS i)
),
sizes AS (SELECT doc_id, count(*) AS n FROM chars GROUP BY doc_id),
inter AS (
  SELECT c1.doc_id AS doc_id1, c2.doc_id AS doc_id2, count(*) AS isz
  FROM chars c1
  JOIN chars c2 ON c1.ch = c2.ch AND c1.lang = c2.lang
                AND c1.doc_id < c2.doc_id
  GROUP BY 1, 2
)
SELECT doc_id1, doc_id2,
       round(isz / sqrt((s1.n * s2.n)::DOUBLE), 6) AS char_cos_nonascii
FROM inter
JOIN sizes s1 ON s1.doc_id = doc_id1
JOIN sizes s2 ON s2.doc_id = doc_id2
WHERE round(isz / sqrt((s1.n * s2.n)::DOUBLE), 6) >= 0.9
"""


def q39_multimodal_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup (dedup.multimodal_neardup: text-OR-audio edges ->
    connected components) as a driver-oracled query, via the planted-star
    construction:

    - bases: doc_id < 200, unique garbage transcript g(id) (three chained
      md5 hexes — pairwise trigram-Jaccard ~0.01, far below the 0.7
      verify), audio class id % 400 == id (unique per base).
    - audio-only copies at id + 1_000_000 (id % 6 == 0): same waveform
      class + 34 dB jitter, CORRUPTED transcript g(id + 5_000_000) — the
      text path cannot see these; only the audio path links them.
    - text-only copies at id + 2_000_200 (id % 7 == 0): transcript g(id)
      verbatim, audio class (id + 200) % 400 = id + 200 — unique, outside
      the base range, so only the text path links them.

    Each cluster is therefore a star around its base and the CC labels
    have the closed form cluster_id = base id — SQL-expressible without
    recursion, which is what admits the oracle.  Recovering it requires
    BOTH modal paths to work: drop the audio edges and the audio copies
    become singletons; drop the text edges and the text copies do."""
    from text_similarity_node_spark.config import PipelineConfig
    from text_similarity_node_spark.operators.audio import synth_sine1s_pcm_udf
    from text_similarity_node_spark.operators.dedup import multimodal_neardup

    def g(idc):
        return F.concat(
            F.md5(F.concat(F.lit("t"), idc.cast("string"))),
            F.md5(F.concat(F.lit("u"), idc.cast("string"))),
            F.md5(F.concat(F.lit("v"), idc.cast("string"))),
        )

    base = (
        _load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )
    bases = base.select(
        F.col("doc_id").alias("clip_id"), g(F.col("doc_id")).alias("transcript")
    )
    audio_copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("clip_id"),
        g(F.col("doc_id") + 5_000_000).alias("transcript"),
    )
    text_copies = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_200).alias("clip_id"),
        g(F.col("doc_id")).alias("transcript"),
    )
    synth = synth_sine1s_pcm_udf()
    corpus = (
        bases.unionByName(audio_copies)
        .unionByName(text_copies)
        .withColumn("bytes", synth(F.col("clip_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    cfg = PipelineConfig(hot_band_threshold=500, salt_buckets=8)
    out = multimodal_neardup(
        corpus, cfg,
        audio_fp_kwargs=dict(
            min_matches=2, frame_len=4096, hop=2048,
            peaks_per_frame=1, fanout=2, freq_quant_hz=1.0,
        ),
    )
    return out.select("clip_id", "cluster_id", "is_duplicate")


_Q39_SQL = """
WITH corpus AS (
  SELECT doc_id AS clip_id, doc_id AS base
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 1000000, doc_id
  FROM documents WHERE doc_id < 200 AND doc_id % 6 = 0
  UNION ALL
  SELECT doc_id + 2000200, doc_id
  FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0
)
SELECT clip_id, base AS cluster_id, clip_id <> base AS is_duplicate
FROM corpus
"""


def q40_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (the GPT-3 appendix-C 13-gram rule), a
    first-class training-data-pipeline op: the 'benchmark' is every doc
    with doc_id % 97 == 0, and every OTHER doc sharing at least one word
    13-gram with it is flagged with its distinct-overlapping-gram count.
    The corpus has no natural 13-word overlaps (measured: zero at
    sf0.01), so contamination is PLANTED deterministically — docs with
    doc_id % 13 == 5 get the benchmark texts (concatenated in doc_id
    order) appended, which both engines derive identically; the Spark
    side must then recover exactly those docs with exactly the planted
    gram counts.  Scale shape (operators/text_analysis.
    contamination_check): benchmark grams dedup to 8-byte hashes and
    broadcast; corpus grams stream through a broadcast hash join — zero
    corpus-gram shuffle."""
    from text_similarity_node_spark.operators.text_analysis import (
        contamination_check,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    # deterministic injection source: all benchmark texts, doc_id order
    # (collect_list alone is order-nondeterministic; array_sort on the
    # (doc_id, text) struct pins it)
    src = bench.select(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s["text"],
            ),
        ).alias("_src")
    )
    targets = docs.filter(F.col("doc_id") % 97 != 0).crossJoin(F.broadcast(src))
    corpus = targets.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 5,
            F.concat(F.col("text"), F.lit(" "), F.col("_src")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return contamination_check(corpus, bench, "doc_id", "text", n=13)


_Q40_SQL = """
WITH src AS (
  SELECT string_agg(text, ' ' ORDER BY doc_id) AS s
  FROM documents WHERE doc_id % 97 = 0
),
corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 5
              THEN text || ' ' || (SELECT s FROM src)
              ELSE text END AS text
  FROM documents WHERE doc_id % 97 <> 0
),
words_c AS (
  SELECT doc_id, regexp_extract_all(text, '\\w+') AS w FROM corpus
),
words_b AS (
  SELECT doc_id, regexp_extract_all(text, '\\w+') AS w
  FROM documents WHERE doc_id % 97 = 0
),
grams_c AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+12], ' ') AS g
  FROM words_c,
       LATERAL (SELECT unnest(generate_series(1, len(w) - 12)) AS i)
  WHERE len(w) >= 13
),
grams_b AS (
  SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS g
  FROM words_b,
       LATERAL (SELECT unnest(generate_series(1, len(w) - 12)) AS i)
  WHERE len(w) >= 13
)
SELECT doc_id, count(*)::BIGINT AS n_contaminated_grams
FROM grams_c JOIN grams_b USING (g)
GROUP BY doc_id
"""


def q41_event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events stream (30-min inactivity
    boundary): the canonical distributed shape — ONE shuffle on user_id,
    then lag + running-sum window inside each partition, then a same-key
    groupBy that AQE keeps shuffle-free (the window and the aggregate
    share the user_id partitioning).  Gap arithmetic runs on integer
    microseconds (unix_micros / epoch_us both sides) and the value sum on
    integer cents — no float accumulation order in the oracle hash."""
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP.  The cast
    # applies the session timezone, and gaps are DIFFERENCES, so the
    # constant offset cancels regardless of the session setting.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_new = (gap.isNull() | (gap > 1_800_000_000)).cast("int")
    sess = (
        ev.withColumn("session_seq", F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


_Q41_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
  FROM ordered
)
SELECT user_id, session_seq,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*)::BIGINT AS n_events,
       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
FROM sess
GROUP BY user_id, session_seq
"""


def q42_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratifiable train/val split (operators/
    text_analysis.hash_split): content-stable md5 bucketing at 90/10,
    salt 'r3'.  Pure map-side — no shuffle, no state; a doc's assignment
    never changes as the corpus grows, which is the property an
    incremental 100-TB ingest needs.  The oracle is the literal CASE
    translation of the same two-hex-char lexicographic rule."""
    from text_similarity_node_spark.operators.text_analysis import hash_split

    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        hash_split(F.col("doc_id"), train_fraction=0.9, salt="r3").alias("split"),
    )


_Q42_SQL = """
SELECT doc_id, lang,
       CASE WHEN substring(md5('r3' || doc_id::VARCHAR), 1, 2) < 'e6'
            THEN 'train' ELSE 'val' END AS split
FROM documents
"""


def q43_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (the 'repetition removal' stage of
    a web-scale text pipeline): per doc, the duplicate-word fraction
    (map-side, operators/text_analysis.repetition_stats) and the
    top-bigram fraction (grouped argmax over exploded word bigrams — one
    shuffle on (doc_id, bigram), partial agg map-side).  All fractions
    travel as integer micro-fractions (floor(x*1e6), exact in both
    engines) per the oracle-hash rule."""
    from text_similarity_node_spark.operators.text_analysis import (
        micro_frac,
        repetition_stats,
        word_shingles,
    )

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", C.word_tokens(F.col("text")).alias("w")
    )
    dup_micro, total = repetition_stats(F.col("w"))
    base = docs.select(
        "doc_id", dup_micro.alias("dup_word_frac_micro"), total.alias("total_words")
    )
    bi = docs.select(
        "doc_id", F.explode(word_shingles(F.col("w"), 2)).alias("g")
    )
    top = (
        bi.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_bi"))
        .select("doc_id", micro_frac(F.col("top_c"), F.col("n_bi")).alias(
            "top_bigram_frac_micro"))
    )
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "total_words",
        "dup_word_frac_micro",
        F.coalesce("top_bigram_frac_micro", F.lit(0)).alias(
            "top_bigram_frac_micro"),
    )


_Q43_SQL = """
WITH words AS (
  SELECT doc_id, regexp_extract_all(text, '\\w+') AS w FROM documents
),
base AS (
  SELECT doc_id,
         len(w)::BIGINT AS total_words,
         CASE WHEN len(w) > 0
              THEN ((len(w) - len(list_distinct(w))) * 1000000) // len(w)
              ELSE 0 END::BIGINT AS dup_word_frac_micro
  FROM words
),
bi AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
  WHERE len(w) >= 2
),
cnt AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
top AS (
  SELECT doc_id, ((max(c) * 1000000) // sum(c))::BIGINT AS top_bigram_frac_micro
  FROM cnt GROUP BY doc_id
)
SELECT b.doc_id, b.total_words, b.dup_word_frac_micro,
       coalesce(t.top_bigram_frac_micro, 0)::BIGINT AS top_bigram_frac_micro
FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
"""


def q44_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (email redaction), the map-side sanitation stage of a
    training-data pipeline.  The corpus carries no natural emails, so they
    are PLANTED deterministically (docs with doc_id % 11 == 3 get
    ' contact user{doc_id}@example.com now' appended — both engines derive
    the same corpus); the Spark side must count and redact exactly those
    spans.  The redacted text is verified via md5 (compact, hash-stable
    both engines); the regex keeps to classes + '+' so Java regex and RE2
    agree byte-for-byte."""
    from text_similarity_node_spark.operators.text_analysis import (
        email_count,
        redact_emails,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    withpii = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 3,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return withpii.select(
        "doc_id",
        email_count(F.col("text")).cast("long").alias("n_emails"),
        F.md5(redact_emails(F.col("text"))).alias("redacted_md5"),
    )


_Q44_SQL = """
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 3
              THEN text || ' contact user' || doc_id::VARCHAR || '@example.com now'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+'))::BIGINT
         AS n_emails,
       md5(regexp_replace(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'))
         AS redacted_md5
FROM corpus
"""


def q45_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analogue (shipping priority): the canonical 3-way
    fact/dimension join — customer filtered to one segment (small side,
    broadcast), orders date-filtered at the scan (PushedFilters), lineitem
    date-filtered at the scan, shuffle join on orderkey, agg, top-10 with
    a total order.  Revenue travels as round(ep*(1-disc)*10000) BIGINT
    (both engines compute the same double product and round once — no
    float sums in the hash)."""
    d = "1998-06-15"
    cust = (
        _load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < d)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        _load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > d)
        .select(
            "l_orderkey",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
            ).cast("long").alias("rev_x10000"),
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("rev_x10000").alias("revenue_x10000"))
        .orderBy(F.desc("revenue_x10000"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q45_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))::BIGINT
         AS revenue_x10000
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-15'
  AND l_shipdate  > TIMESTAMP '1998-06-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_x10000 DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


def q46_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each event matched to the latest
    order at-or-before its timestamp for the same customer — the
    time-series primitive Spark lacks, built as union + one shuffle +
    in-partition carry-forward window (NOT an exploding range join).
    Oracle: DuckDB's native ASOF LEFT JOIN over the identical deduped
    right side — a rare case where the oracle engine has the operator
    built in and the Spark side must reproduce it exactly."""
    from text_similarity_node_spark.operators.asof import asof_join

    ev = _load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        _load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
        .select("o_custkey", "o_orderdate", "last_orderkey")
    )
    out = asof_join(
        ev.withColumnRenamed("user_id", "k").withColumnRenamed("ts", "ets"),
        orders.withColumnRenamed("o_custkey", "k"),
        key="k",
        left_ts="ets",
        right_ts="o_orderdate",
        payload_cols=["last_orderkey"],
    )
    return out.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("ets").alias("ts"),
        "last_orderkey",
    )


_Q46_SQL = """
WITH r AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts, r.last_orderkey
FROM events e
ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
"""


def q47_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval range join (operators/rangejoin.py): events landing
    in a per-order 2-day window by the same customer.  Catalyst would
    plan the raw inequality as BroadcastNestedLoop (|L|x|R| per key);
    the operator's width-W time bucketing turns it into an equi-join on
    (customer, bucket) with <= 2-way right-side replication.  The
    oracle states the same predicate as the naive inequality join —
    exactly the pairs the bucketed plan must reproduce.

    The synthetic tables put events in Jan 2024 but o_orderdate in
    1995-2001, so a raw date window can NEVER match (a 0-row green row
    proves schema, not join semantics).  Each order's window is instead
    PROJECTED onto the events epoch deterministically — lo = 2024-01-01
    + (days since 1995-01-01 mod 29) days, hi = lo + 2 days — with the
    identical closed form in the oracle SQL, so the join matches real
    rows at every sf (~3.3k at sf0.01) and the bucketed plan's output
    is value-checked, not just typed."""
    from text_similarity_node_spark.operators.rangejoin import interval_join

    day_us = 24 * 3600 * 1_000_000
    epoch_2024_us = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00 UTC
    ev = _load(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("k"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ev_us"),
    )
    lo_us = (
        F.lit(epoch_2024_us)
        + (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
            % 29
        ).cast("long")
        * F.lit(day_us)
    )
    orders = _load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("k"),
        lo_us.alias("lo_us"),
        (lo_us + 2 * day_us).alias("hi_us"),
    )
    out = interval_join(
        ev, orders, left_val="ev_us", right_lo="lo_us", right_hi="hi_us",
        max_width=2 * day_us, keys=["k"],
    )
    return out.select(
        "event_id", F.col("k").alias("user_id"), "o_orderkey"
    )


_Q47_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         1704067200000000::BIGINT
           + (date_diff('day', DATE '1995-01-01', o_orderdate) % 29)::BIGINT
             * 86400000000::BIGINT AS lo_us
  FROM orders
)
SELECT e.event_id, e.user_id, o.o_orderkey
FROM events e
JOIN o
  ON e.user_id = o.o_custkey
 AND epoch_us(e.ts) >= o.lo_us
 AND epoch_us(e.ts) < o.lo_us + 172800000000::BIGINT
"""


def q48_audio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio quality filter — the keep/drop stage a training-data pipeline
    runs before any similarity pass: per-clip clipping and silence metrics
    over the raw PCM, then a policy flag.  Clips are synthesized with
    PLANTED DEFECTS (operators/audio.py:synth_quality_pcm_udf): ids
    % 7 == 3 are over-driven (~37% of samples clamp at full scale), ids
    % 11 == 4 are half-silent; the analytic trunc/clamp integer waveform
    lets the DuckDB oracle recompute the exact samples (q27 construction).
    Metrics stay in integer channels (counts + micro-scaled ratio) so the
    value hash has no float path.  Keep policy: zero clipped permille and
    silence <= 30% — clean margins against the planted regimes (~506_400
    vs ~12_700 micro on this waveform).
    Scale: payload synthesized and consumed in ONE stage (never shuffles);
    metrics are 4 ints/clip; the filter is a map-only plan, no shuffle at
    all until the final presentation sort."""
    from text_similarity_node_spark.operators.audio import (
        audio_quality_udf,
        synth_quality_pcm_udf as synth,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    clips = docs.select("doc_id", synth(F.col("doc_id")).alias("bytes"))
    m = clips.select("doc_id", audio_quality_udf(F.col("bytes")).alias("q"))
    # `div` (not `/`): both sides of the oracle do exact BIGINT floor
    # division — no double channel anywhere in the hashed columns
    return (
        m.select(
            "doc_id",
            F.col("q.n_samples").alias("n_samples"),
            F.col("q.n_clipped").alias("n_clipped"),
            F.expr("(1000000L * q.n_silent) div q.n_samples").alias(
                "silence_micro"
            ),
            F.col("q.peak").alias("peak"),
            F.expr(
                "CAST((1000L * q.n_clipped) div q.n_samples = 0"
                " AND (1000000L * q.n_silent) div q.n_samples <= 300000"
                " AS INT)"
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


_Q48_SQL = """
WITH samp AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 11 = 4 AND i < 400 THEN 0.0
              ELSE least(greatest(trunc(
                     (CASE WHEN d.doc_id % 7 = 3 THEN 39321.0 ELSE 16384.0 END)
                     * sin(2 * pi() * (100 + d.doc_id % 400) * i / 16000.0)),
                   -32767.0), 32767.0)
         END AS s
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(0, 799)) AS i)
), m AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_samples,
         sum((abs(s) >= 32767)::INT)::BIGINT AS n_clipped,
         sum((abs(s) < 328)::INT)::BIGINT AS n_silent,
         max(abs(s))::BIGINT AS peak
  FROM samp GROUP BY doc_id
)
SELECT doc_id, n_samples, n_clipped,
       ((1000000 * n_silent) // n_samples)::BIGINT AS silence_micro,
       peak,
       ((1000 * n_clipped) // n_samples = 0
        AND (1000000 * n_silent) // n_samples <= 300000)::INT AS keep
FROM m ORDER BY doc_id
"""


def q49_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIERED dedup cascade — the namesake shape of this engine: tier 1
    exact (md5 hash-groupBy), then tier 2 near-dup (multiset trigram
    Jaccard >= 0.55, q04's predicate) over the tier-1 SURVIVORS only, with
    connected components assigning one final keeper per near-dup cluster.
    Emits per-doc (tier, final_id): tier 1 = exact copy of an earlier doc,
    tier 2 = survivor clustered under a smaller-id near-dup, tier 0 = kept;
    final_id is the ultimate keeper (exact canonical's cluster minimum) —
    what a training-data pipeline joins against to materialize the kept
    set.  The cascade ordering is the scale story: the cheap exact pass
    shrinks the expensive near-dup pass's input, and the near-dup tier
    never sees two identical texts.  Tier-2 candidates run through the
    SAME scale-shaped path as q37 (LSH bands with folded blocking keys ->
    multiset-sound prefilter -> exact verify, via _ngram_scale_pairs) —
    the registered query IS the 10^12-row plan, and the oracle proves the
    probabilistic candidate stage loses no edge the exact join would
    find on this corpus.
    All output channels are integers (tier, ids) — no float in the hash.
    Oracle: same cascade in SQL with a recursive-CTE transitive closure
    standing in for the distributed label propagation."""
    from text_similarity_node_spark.operators.components import (
        connected_components,
    )
    from text_similarity_node_spark.operators.dedup import exact_dedup

    corpus = _dedup_corpus(spark, sf_dir)
    ex = exact_dedup(corpus, "doc_id", "text").persist()
    surv = ex.filter(F.col("doc_id") == F.col("canonical_id")).select(
        "doc_id", "text", "lang", F.length("text").alias("n_chars")
    )
    # tier-2 edges through the SAME scale-shaped candidate path as q37
    # (LSH bands + sound prefilter + exact verify) — the bare inverted-
    # index join this replaced was quadratic on this template-heavy
    # corpus at sf0.1 (the q04-vs-q37 story, replayed on survivors)
    edges = _ngram_scale_pairs(surv).select("id1", "id2")
    cc = connected_components(edges)  # (clip_id, cluster_id); singletons absent
    surv_m = (
        surv.select("doc_id")
        .join(cc, surv["doc_id"] == cc["clip_id"], "left")
        .select(
            F.col("doc_id").alias("surv_id"),
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("m"),
        )
    )
    return (
        ex.select("doc_id", "canonical_id")
        .join(surv_m, F.col("canonical_id") == F.col("surv_id"))
        .select(
            "doc_id",
            F.when(F.col("doc_id") != F.col("canonical_id"), 1)
            .when(F.col("m") != F.col("doc_id"), 2)
            .otherwise(0)
            .cast("int")
            .alias("tier"),
            F.col("m").alias("final_id"),
        )
        .orderBy("doc_id")
    )


_Q49_SQL = f"""
WITH RECURSIVE corpus AS ({_DEDUP_CORPUS_SQL}),
ex AS (
  SELECT doc_id, text, lang, min(doc_id) OVER (PARTITION BY text) AS c
  FROM corpus
),
surv AS (
  SELECT doc_id, text, lang, length(text) AS n_chars FROM ex WHERE doc_id = c
),
grams AS (
  SELECT doc_id, substring(text, i, 3) AS g, count(*) AS cnt
  FROM surv,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i)
  GROUP BY doc_id, substring(text, i, 3)
),
meta AS (
  SELECT doc_id, lang, n_chars, greatest(length(text) - 2, 1) AS total FROM surv
),
inter AS (
  SELECT g1.doc_id AS a, g2.doc_id AS b, sum(least(g1.cnt, g2.cnt)) AS isz
  FROM grams g1 JOIN grams g2 ON g1.g = g2.g AND g1.doc_id < g2.doc_id
  GROUP BY g1.doc_id, g2.doc_id
),
edges AS (
  SELECT i.a, i.b
  FROM inter i
  JOIN meta m1 ON m1.doc_id = i.a
  JOIN meta m2 ON m2.doc_id = i.b
  WHERE m1.lang = m2.lang AND abs(m1.n_chars - m2.n_chars) <= 40
    AND i.isz::DOUBLE / (m1.total + m2.total - i.isz) >= 0.55
),
sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach AS (
  SELECT doc_id AS a, doc_id AS b FROM surv
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
clus AS (SELECT a AS doc_id, min(b) AS m FROM reach GROUP BY a)
SELECT e.doc_id,
       (CASE WHEN e.doc_id != e.c THEN 1
             WHEN cl.m != e.doc_id THEN 2
             ELSE 0 END)::INT AS tier,
       cl.m AS final_id
FROM ex e JOIN clus cl ON cl.doc_id = e.c
ORDER BY e.doc_id
"""


def q50_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-content near-dup pairs (operators/image.py:video_neardup):
    sampled-frame pHashes through the salted pigeonhole Hamming join, with
    temporal corroboration (>= 2 matching sampled positions) — the video
    leg of the multimodal dedup family (q32 audio, q34 image).  Corpus:
    one deterministic 6-frame raw stream per doc (frame sequence keyed by
    doc_id % 40) plus per-frame-noised re-encodes at doc_id + 1_000_000
    for doc_id % 6 == 0.  Two clips share a frame sequence iff their ids
    are congruent mod 40 — the closed-form SQL oracle.  Exactness: the
    frame family is the q34 image family (measured intra-class Hamming
    <= 4, inter-class >= 19 at radius 6), and noise is per-frame, so ALL
    3 sampled positions match intra-class and none inter-class — the
    min_frames=2 gate passes exactly the same-class pairs."""
    from text_similarity_node_spark.operators.image import (
        synth_video_udf,
        video_neardup,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    # the tiny id scan collapses to one input split; spread it BEFORE the
    # frame synth so no single task materializes the whole corpus's
    # payload in one Arrow batch (73 KB/clip; at real scale the table
    # arrives partitioned and this is a no-op by construction)
    corpus = (
        base.unionByName(copies)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .withColumn("bytes", synth_video_udf()(F.col("doc_id")))
    )
    pairs = video_neardup(
        corpus, "doc_id", "bytes", every_k=2, hamming_radius=6, min_frames=2
    )
    return pairs.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
    )


_Q50_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 6 = 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, 3::BIGINT AS n_frames_matched
FROM corpus a JOIN corpus b
  ON a.doc_id < b.doc_id AND a.doc_id % 40 = b.doc_id % 40
"""


def q51_audio_shift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SHIFT robustness of the acoustic fingerprint: copies here are
    the same recording shifted by one landmark hop (128 ms), the case
    every re-encoded/clipped upload hits and the one q32's stationary
    sines cannot probe (a constant tone looks the same at any offset).
    Corpus: a non-stationary 4-tone melody per doc keyed by doc_id % 400
    (operators/audio.py:synth_melody_pcm_udf) plus one-hop-shifted
    windows of the SAME waveform at doc_id + 1_000_000 for
    doc_id % 6 == 0.  Matching pairs exist only because the constellation
    scheme's (f1, f2, dt) landmarks are RELATIVELY anchored — with the
    shift equal to the frame hop, the copy's frames are sample-identical
    to the base's frames 1..N-1, so interior landmark hashes coincide
    exactly.  Congruence mod 400 is the closed-form oracle (recall and
    precision 1.0 on this corpus).  Candidate stage only, by design: the
    sample-aligned SNR verifier is exactly what a time shift defeats — a
    production verify for shifted copies aligns by cross-correlation
    first (documented gap; the fingerprint stage is what's under audit).
    """
    from text_similarity_node_spark.operators.audio import (
        synth_melody_pcm_udf,
    )
    from text_similarity_node_spark.operators.audio_fp import (
        audio_fingerprint_pairs,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    synth = synth_melody_pcm_udf()
    # spread the collapsed id scan before synthesizing 32 KB/clip payloads
    # (same rationale as q50; no-op on an already-partitioned table)
    corpus = (
        base.unionByName(copies)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    pairs = audio_fingerprint_pairs(
        corpus,
        "doc_id",
        "bytes",
        min_matches=2,
        frame_len=4096,
        hop=2048,
        peaks_per_frame=1,
        fanout=2,
        freq_quant_hz=1.0,
    )
    return pairs.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q51_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 6 = 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
FROM corpus a JOIN corpus b
  ON a.doc_id < b.doc_id AND a.doc_id % 400 = b.doc_id % 400
"""


def q52_audio_resample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATE robustness of the acoustic fingerprint — the third
    axis of the audio-dedup audit family (q32 content, q51 time shift,
    here codec/rate churn: re-encoded uploads routinely arrive at 8 kHz
    against 16 kHz originals).  The corpus is genuinely MIXED-RATE:
    bases are 16 kHz melodies (doc_id % 400 frequency classes,
    seg_step=607 keeps every tone under the 8 kHz Nyquist — the default
    1021 would alias), copies at doc_id + 1_000_000 for doc_id % 6 == 0
    are the SAME melody passed through the real windowed-sinc decimator
    to 8 kHz (operators/audio.py:resample_pcm — int16 round trip, not a
    resynthesis).  The operator under audit is the canonicalization
    edge a production mixed-rate pipeline needs before any fingerprint
    equi-join: resample_pcm_udf(16000) brings every row to one rate
    (16 kHz rows pass through bit-exact), then the q51-config landmark
    join runs.  Matching pairs exist only because (a) the resampler is
    alias-free and group-delay compensated, so frames stay sample-
    aligned, and (b) landmark frequencies are Hz-normalized with
    sub-bin parabolic interpolation, so a 38-46 dB round-trip SNR
    leaves every quantized (f1, f2, dt) hash intact.  Congruence mod
    400 is the closed-form oracle — the driver hash matches iff recall
    AND precision are exactly 1.0 across the rate boundary."""
    from text_similarity_node_spark.operators.audio import (
        resample_pcm_udf,
        synth_melody_pcm_udf,
    )
    from text_similarity_node_spark.operators.audio_fp import (
        audio_fingerprint_pairs,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    synth = synth_melody_pcm_udf(seg_step=607.0, shift=0)
    down = resample_pcm_udf(8000)
    canon = resample_pcm_udf(16000)
    # spread the collapsed id scan before synthesizing payloads (q50/q51
    # rationale; a real table arrives partitioned and this is a no-op)
    par = spark.sparkContext.defaultParallelism
    base16 = (
        base.repartition(par, "doc_id")
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    copies8 = (
        copies.repartition(par, "doc_id")
        .withColumn("bytes", synth(F.col("doc_id") - 1_000_000))
        .withColumn("bytes", down(F.col("bytes"), F.lit(16000)))
        .withColumn("sr_hz", F.lit(8000))
    )
    corpus = (
        base16.unionByName(copies8)
        .withColumn("bytes", canon(F.col("bytes"), F.col("sr_hz")))
        .withColumn("sr_hz", F.lit(16000))
    )
    pairs = audio_fingerprint_pairs(
        corpus,
        "doc_id",
        "bytes",
        min_matches=2,
        frame_len=4096,
        hop=2048,
        peaks_per_frame=1,
        fanout=2,
        freq_quant_hz=1.0,
    )
    return pairs.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q52_SQL = _Q51_SQL  # same planted-congruence truth, different perturbation


def q53_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based voice-activity detection — the trim/keep stage a speech
    training pipeline runs before transcription or fingerprinting.  Clips
    are synthesized with PLANTED SILENCE STRUCTURE
    (operators/audio.py:synth_vad_pcm_udf): 10 frames of 160 samples; the
    first id % 4 and last id % 3 frames are gated to zero.  The VAD marks a
    frame active iff its summed |sample| clears frame_len * SILENCE_LEVEL,
    then emits frame counts, first/last active frame (the trim points), a
    micro-scaled speech ratio, and a keep flag (>= 60% voiced).  Every
    channel is an integer, and the waveform is analytic trunc arithmetic,
    so the DuckDB oracle recomputes the exact frame energies (q48's
    construction).
    Scale: payload synthesized and consumed in ONE map-only stage (never
    shuffles); 6 ints per clip out; only exchange is the presentation
    sort."""
    from text_similarity_node_spark.operators.audio import (
        synth_vad_pcm_udf as synth,
        vad_udf,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    clips = docs.select("doc_id", synth(F.col("doc_id")).alias("bytes"))
    v = clips.select("doc_id", vad_udf()(F.col("bytes")).alias("v"))
    return (
        v.select(
            "doc_id",
            F.col("v.n_frames").alias("n_frames"),
            F.col("v.n_active").alias("n_active"),
            F.col("v.first_active").alias("first_active"),
            F.col("v.last_active").alias("last_active"),
            F.expr("(1000000L * v.n_active) div v.n_frames").alias(
                "speech_micro"
            ),
            F.expr(
                "CAST((1000000L * v.n_active) div v.n_frames >= 600000"
                " AS INT)"
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


_Q53_SQL = """
WITH samp AS (
  SELECT d.doc_id, i // 160 AS frame,
         CASE WHEN i < 160 * (d.doc_id % 4)
               OR i >= 1600 - 160 * (d.doc_id % 3) THEN 0.0
              ELSE trunc(16384.0
                   * sin(2 * pi() * (100 + d.doc_id % 200) * i / 16000.0))
         END AS s
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(0, 1599)) AS i)
), fr AS (
  SELECT doc_id, frame, sum(abs(s)) AS e FROM samp GROUP BY doc_id, frame
), act AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_frames,
         sum((e >= 52480)::INT)::BIGINT AS n_active,
         coalesce(min(CASE WHEN e >= 52480 THEN frame END), -1)::BIGINT
           AS first_active,
         coalesce(max(CASE WHEN e >= 52480 THEN frame END), -1)::BIGINT
           AS last_active
  FROM fr GROUP BY doc_id
)
SELECT doc_id, n_frames, n_active, first_active, last_active,
       ((1000000 * n_active) // n_frames)::BIGINT AS speech_micro,
       ((1000000 * n_active) // n_frames >= 600000)::INT AS keep
FROM act ORDER BY doc_id
"""


def q54_speech_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript/audio consistency check — the cross-column sanity filter
    over the engine's native (clip, transcript) pairs: words-per-minute
    from the transcript token count against the clip duration, with
    out-of-range clips flagged (too slow = likely dead air or a wrong
    pairing; too fast = likely a truncated clip or runaway transcript).
    Durations are derived deterministically from doc_id (2s..30s); the
    word count reuses the q06 ASCII tokenizer, so the oracle is exact.
    All-integer channels: wpm is BIGINT floor division, flag is {-1,0,1}.
    Scale: pure JVM column expressions over one scan — no UDF, no
    shuffle besides the presentation sort; at 10^12 rows this is the
    cheapest possible keep/drop stage."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    rated = docs.select(
        "doc_id",
        F.size(C.word_tokens(F.col("text"))).cast("long").alias("n_words"),
        (F.lit(2000) + (F.col("doc_id") * 37) % 28000).alias("dur_ms"),
    ).select(
        "doc_id",
        "n_words",
        "dur_ms",
        F.expr("(60000L * n_words) div dur_ms").alias("wpm"),
    )
    return (
        rated.select(
            "doc_id",
            "n_words",
            "dur_ms",
            "wpm",
            F.when(F.col("wpm") < 100, -1)
            .when(F.col("wpm") > 600, 1)
            .otherwise(0)
            .cast("int")
            .alias("rate_flag"),
        )
        .orderBy("doc_id")
    )


_Q54_SQL = r"""
WITH rated AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\w+'))::BIGINT AS n_words,
         (2000 + (doc_id * 37) % 28000)::BIGINT AS dur_ms
  FROM documents
)
SELECT doc_id, n_words, dur_ms,
       ((60000 * n_words) // dur_ms)::BIGINT AS wpm,
       (CASE WHEN (60000 * n_words) // dur_ms < 100 THEN -1
             WHEN (60000 * n_words) // dur_ms > 600 THEN 1
             ELSE 0 END)::INT AS rate_flag
FROM rated ORDER BY doc_id
"""


def q55_stereo_downmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stereo-to-mono canonicalization — channel handling before any mono
    fingerprint/quality pass.  Clips are synthesized as interleaved
    stereo (distinct L/R sine frequencies per id,
    operators/audio.py:synth_stereo_pcm_udf); the downmix is
    trunc((L+R)/2) per frame, and the evidence channels pin every mono
    sample's value AND position: peak |m|, sum |m|, and the
    position-weighted checksum sum((i+1) * m_i).  Analytic trunc
    arithmetic end-to-end, so the DuckDB oracle recomputes both channels
    and the exact mix.
    Scale: payload synthesized and consumed in ONE map-only stage; 4 ints
    per clip out; only exchange is the presentation sort."""
    from text_similarity_node_spark.operators.audio import (
        downmix_stats_udf,
        synth_stereo_pcm_udf as synth,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    clips = docs.select("doc_id", synth(F.col("doc_id")).alias("bytes"))
    return (
        clips.select("doc_id", downmix_stats_udf(F.col("bytes")).alias("m"))
        .select(
            "doc_id",
            F.col("m.n_frames").alias("n_frames"),
            F.col("m.peak").alias("peak"),
            F.col("m.sum_abs").alias("sum_abs"),
            F.col("m.checksum").alias("checksum"),
        )
        .orderBy("doc_id")
    )


_Q55_SQL = """
WITH samp AS (
  SELECT d.doc_id, i,
         trunc(12000.0
               * sin(2 * pi() * (100 + d.doc_id % 300) * i / 16000.0)) AS l,
         trunc(12000.0
               * sin(2 * pi() * (150 + d.doc_id % 250) * i / 16000.0)) AS r
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(0, 399)) AS i)
), mono AS (
  SELECT doc_id, i, trunc((l + r) / 2.0) AS m FROM samp
)
SELECT doc_id,
       count(*)::BIGINT AS n_frames,
       max(abs(m))::BIGINT AS peak,
       sum(abs(m))::BIGINT AS sum_abs,
       sum((i + 1) * m)::BIGINT AS checksum
FROM mono GROUP BY doc_id ORDER BY doc_id
"""


def q56_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency line dedup (the C4/RefinedWeb boilerplate rule):
    any LINE that occurs in more than 2 distinct documents is boilerplate
    and is removed from every document that carries it.  The documents
    table has no newlines, so each doc derives a 4-line page: a planted
    nav header shared by id % 5, two 80-char body chunks, and a planted
    copyright footer shared by id % 3 — headers/footers cross the
    threshold by construction, body chunks only where the template corpus
    genuinely repeats (the rule decides; the oracle recomputes the same
    rule).  Per doc: line counts and the md5 of the kept page (lines in
    original order, newline-joined) — positional proof of what survived.
    Scale: this is the canonical two-shuffle shape — groupBy(line) for
    corpus counts, join back, groupBy(doc) to reassemble; both shuffles
    key on high-cardinality values, and the line-count side can be
    broadcast when the distinct-line set is small after a frequency
    filter (only lines ABOVE the threshold matter for the join — that
    filtered set is tiny at any scale and is the 100-TB plan)."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    lines = docs.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.concat(
                    F.lit("nav menu "), (F.col("doc_id") % 5).cast("string")
                ),
                F.substring("text", 1, 80),
                F.substring("text", 81, 80),
                F.concat(
                    F.lit("copyright footer "),
                    (F.col("doc_id") % 3).cast("string"),
                ),
            )
        ).alias("pos", "line"),
    ).filter(F.length("line") > 0)
    # Only lines OVER the threshold are needed downstream: filter before
    # the join-back so the broadcast side stays tiny at corpus scale.
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") > 2)
        .select("line", F.lit(1).alias("is_boiler"))
    )
    j = lines.join(F.broadcast(boiler), "line", "left").withColumn(
        "boiler", F.coalesce(F.col("is_boiler"), F.lit(0))
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("boiler").alias("n_boiler"),
            (F.count(F.lit(1)) - F.sum("boiler")).alias("n_kept"),
            F.md5(
                F.concat_ws(
                    "\n",
                    F.expr(
                        "transform(array_sort(collect_list("
                        "CASE WHEN boiler = 0 THEN struct(pos, line) END)),"
                        " x -> x.line)"
                    ),
                )
            ).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


_Q56_SQL = """
WITH raw AS (
  SELECT doc_id, unnest(list_value(
    struct_pack(pos := 0,
                line := 'nav menu ' || (doc_id % 5)::VARCHAR),
    struct_pack(pos := 1, line := substring(text, 1, 80)),
    struct_pack(pos := 2, line := substring(text, 81, 80)),
    struct_pack(pos := 3,
                line := 'copyright footer ' || (doc_id % 3)::VARCHAR)
  )) AS l
  FROM documents
), lines AS (
  SELECT doc_id, l.pos AS pos, l.line AS line
  FROM raw WHERE length(l.line) > 0
), counts AS (
  SELECT line, count(DISTINCT doc_id) AS ndocs FROM lines GROUP BY line
), j AS (
  SELECT li.doc_id, li.pos, li.line,
         (coalesce(c.ndocs, 0) > 2)::INT AS boiler
  FROM lines li LEFT JOIN counts c USING (line)
)
SELECT doc_id,
       count(*)::BIGINT AS n_lines,
       sum(boiler)::BIGINT AS n_boiler,
       (count(*) - sum(boiler))::BIGINT AS n_kept,
       md5(coalesce(
         string_agg(CASE WHEN boiler = 0 THEN line END, chr(10)
                    ORDER BY pos), '')) AS kept_md5
FROM j GROUP BY doc_id ORDER BY doc_id
"""


def q57_loudness_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-loudness normalization — gain staging so one energy threshold
    works across a mixed-level corpus (the canonicalization VAD and
    silence gates assume).  Runs over the q48 planted-defect fixture,
    whose amplitude regimes (over-driven 39321-amp clips clamping at full
    scale vs clean 16384-amp clips) exercise both gain directions:
    attenuation toward the 30000 target and a boost capped at 4x.
    Everything is integer arithmetic — gain_micro = min(3e10 // peak_in,
    4e6), per-sample trunc-toward-zero scaling — and the output checksum
    sum((i+1) * m_i) pins every normalized sample's value AND position,
    so the DuckDB oracle recomputes the exact normalized waveform
    (negative-sample `div`/`//` trunc semantics verified identical).
    Scale: payload synthesized and consumed in ONE map-only Arrow stage;
    5 ints per clip out; only exchange is the presentation sort."""
    from text_similarity_node_spark.operators.audio import (
        normalize_gain_udf,
        synth_quality_pcm_udf as synth,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    clips = docs.select("doc_id", synth(F.col("doc_id")).alias("bytes"))
    return (
        clips.select(
            "doc_id", normalize_gain_udf()(F.col("bytes")).alias("g")
        )
        .select(
            "doc_id",
            F.col("g.n_samples").alias("n_samples"),
            F.col("g.peak_in").alias("peak_in"),
            F.col("g.gain_micro").alias("gain_micro"),
            F.col("g.peak_out").alias("peak_out"),
            F.col("g.checksum_out").alias("checksum_out"),
        )
        .orderBy("doc_id")
    )


_Q57_SQL = """
WITH samp AS (
  SELECT d.doc_id, i,
         (CASE WHEN d.doc_id % 11 = 4 AND i < 400 THEN 0.0
               ELSE least(greatest(trunc(
                      (CASE WHEN d.doc_id % 7 = 3 THEN 39321.0
                            ELSE 16384.0 END)
                      * sin(2 * pi() * (100 + d.doc_id % 400) * i
                            / 16000.0)),
                    -32767.0), 32767.0)
          END)::BIGINT AS s
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(0, 799)) AS i)
), g AS (
  SELECT doc_id, count(*)::BIGINT AS n_samples,
         max(abs(s))::BIGINT AS peak_in
  FROM samp GROUP BY doc_id
), gain AS (
  SELECT doc_id, n_samples, peak_in,
         least(30000000000 // peak_in, 4000000)::BIGINT AS gain_micro
  FROM g
), m AS (
  SELECT s.doc_id, s.i, (s.s * ga.gain_micro) // 1000000 AS m
  FROM samp s JOIN gain ga USING (doc_id)
)
SELECT ga.doc_id, ga.n_samples, ga.peak_in, ga.gain_micro,
       max(abs(m.m))::BIGINT AS peak_out,
       sum((m.i + 1) * m.m)::BIGINT AS checksum_out
FROM gain ga JOIN m USING (doc_id)
GROUP BY ga.doc_id, ga.n_samples, ga.peak_in, ga.gain_micro
ORDER BY ga.doc_id
"""


def q58_vocabulary_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head — the Zipf-head token-frequency profile a
    training pipeline reads before choosing stopword lists and tokenizer
    vocab: explode ASCII word tokens, count, top 20 with a TOTAL order
    (count desc, word asc) so the result is deterministic under ties, and
    an explicit rank column pinning the order into the value hash.
    Scale: the groupBy is a map-side-combined word count (partial
    aggregation collapses each partition to its distinct words before the
    exchange — the wordcount plan); the top-k is a TakeOrdered over the
    aggregated dictionary, never a global sort of the token stream."""
    from pyspark.sql import Window

    docs = _load(spark, sf_dir, "documents").select("text")
    counts = (
        docs.select(F.explode(C.word_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    return counts.select(
        "word", "n", F.row_number().over(w).cast("int").alias("rank")
    ).orderBy("rank")


_Q58_SQL = r"""
WITH w AS (
  SELECT unnest(regexp_extract_all(text, '\w+')) AS word FROM documents
), c AS (
  SELECT word, count(*)::BIGINT AS n FROM w GROUP BY word
)
SELECT word, n,
       row_number() OVER (ORDER BY n DESC, word)::INT AS rank
FROM c ORDER BY n DESC, word LIMIT 20
"""


def q59_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k through an int8-quantized scan with a PROVABLY SOUND
    candidate bound and exact re-rank (operators/ann.py:
    cosine_topk_quantized) — the memory-compression ANN path: 1 byte/dim
    on the scan (4-8x less memory traffic than float), candidate
    selection guaranteed to contain the true top-k (triangle-inequality
    error radius around the quantized score, per-query threshold from the
    k-th largest lower bound), full-precision vectors touched only for
    candidates.  Output equals brute force row-for-row, so it shares
    q10's SQL oracle — the same driver-checked anchor pattern as q33
    (IVF at full probe)."""
    from text_similarity_node_spark.operators.ann import cosine_topk_quantized

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_quantized(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5, dim=64
    ).select("query_id", "vec_id", "cos_sim", "rank")


def q60_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/dedup.semantic_dedup,
    Abbas et al. arXiv:2303.09540): sampled spherical-k-means clusters the
    embeddings, candidate pairs are generated only within clusters
    (probe side expanded to the 4 nearest lists, BOTH directions covered),
    exact cosine >= 0.98 verifies, connected components assigns each dup
    to its min-id representative.  Corpus: q29's planted near-dup family
    (scaled + additive-noise copies).  The oracle is exact because (a) the
    exact-cosine verify makes precision 1.0, (b) planted components are
    CLIQUES (copies of one source, pairwise cos >= 0.9998 vs max natural
    pair 0.513), so rep(x) = min(x, min neighbor) without recursion, and
    (c) near-collinear pairs share their home centroid under the
    deterministic seeded training, within the 4-probe reach (verified at
    sf0.001/sf0.01).  q29 checks the pair set; this checks the CLUSTER
    ASSIGNMENT output — the reference's cluster-assignment semantics
    (README.md 'duplicate detection', compared in
    /root/reference/tests/verify_algorithms.py) at the dedup tier."""
    from text_similarity_node_spark.operators.dedup import semantic_dedup

    emb = _neardup_embeddings(spark, sf_dir)
    # FAISS sizing convention: lists grow ~sqrt(N) so per-list occupancy
    # (the quadratic driver) stays bounded as the corpus scales; the
    # floor of 8 keeps the driver-gate scale (sf0.01, 615 vecs) on the
    # verified 8-list configuration
    n_lists = max(8, int(emb.count() ** 0.5 / 4))
    labels = semantic_dedup(
        emb, "vec_id", "v", dim=64, threshold=0.98, n_lists=n_lists, nprobe=4
    )
    return labels.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("rep_id").cast("bigint").alias("rep_id"),
    )


_Q60_SQL = f"""
WITH corpus AS ({_NEARDUP_EMB_SQL}),
scored AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= 0.98
),
sym AS (
  SELECT id1 AS vec_id, id2 AS nbr FROM scored
  UNION ALL
  SELECT id2, id1 FROM scored
)
SELECT vec_id::BIGINT AS vec_id,
       least(vec_id, min(nbr))::BIGINT AS rep_id
FROM sym GROUP BY vec_id
"""


def q61_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-weighted cosine similarity join — the weighting real dedup
    pipelines put on word-overlap measures so boilerplate-heavy docs don't
    match on stopwords alone (the reference's cosine kernel,
    /root/reference/src/algorithms/vector_based.cpp, uses raw counts; this
    is its corpus-weighted extension).  Determinism contract: idf is
    quantized to a MILLI-INT channel (round(1000 * (ln((N+1)/(df+1)) + 1)),
    smooth sklearn-style idf), so weights, dots, and norms are exact BIGINT
    arithmetic — order-free under shuffle and bit-identical in DuckDB; the
    only double ops are one multiply/sqrt/divide at the end (correctly
    rounded, engine-identical), then round to micro.

    Scale shape: the vocabulary is DF-PRUNED (df > 100 dropped) — the
    standard stopword-cut that bounds the inverted index's per-word fanout
    (a word hitting m docs yields m^2 join rows; df caps m).  The cut is
    part of the declared semantics and mirrored exactly in the oracle.
    At 100x, pair generation routes through the q37 LSH machinery with
    tf-idf verify; the inverted-index join here is the audit-scale shape
    with the same weighting."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tf = (
        docs.select(
            "doc_id", "lang",
            F.explode(C.word_tokens(F.col("text"))).alias("word"),
        )
        .groupBy("doc_id", "lang", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()  # consumed by dfreq, N, and the weight join: one
        # tokenize pass instead of four corpus scans (GC-cleaned)
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # N counts ALL docs (zero-token docs included), matching the oracle's
    # count(*); the scan is column-pruned to row-group metadata
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") <= 100)  # df-prune: the declared stopword cut
        .select(
            "word",
            F.round(
                (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1) * 1000
            ).cast("bigint").alias("idf_milli"),
        )
    )
    w = tf.join(F.broadcast(idf), "word").select(
        "doc_id", "lang", "word",
        (F.col("tf") * F.col("idf_milli")).alias("w"),
    ).persist()  # consumed by ssq + both self-join sides (GC-cleaned)
    ssq = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("ssq"))
    w = w.join(ssq, "doc_id")
    a, b = w.alias("a"), w.alias("b")
    stats = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
        )
        .agg(
            F.sum(F.col("a.w") * F.col("b.w")).alias("dot"),
            F.first(F.col("a.ssq")).alias("ssq1"),
            F.first(F.col("b.ssq")).alias("ssq2"),
        )
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("ssq1").cast("double") * F.col("ssq2").cast("double")
    )
    return (
        stats.select(
            "doc_id1", "doc_id2",
            F.round(cos * 1e6).cast("bigint").alias("tfidf_cos_micro"),
        )
        .filter(F.col("tfidf_cos_micro") >= 800000)
    )


_Q61_SQL = r"""
WITH tf AS (
  SELECT doc_id, lang, word, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, lang,
               unnest(regexp_extract_all(text, '\w+')) AS word
        FROM documents)
  GROUP BY doc_id, lang, word
),
idf AS (
  SELECT word,
         CAST(round((ln(((SELECT count(*) FROM documents) + 1)::DOUBLE
                        / (count(*) + 1)) + 1) * 1000) AS BIGINT) AS idf_milli
  FROM tf GROUP BY word HAVING count(*) <= 100
),
w AS (
  SELECT tf.doc_id, tf.lang, tf.word, tf.tf * idf.idf_milli AS w
  FROM tf JOIN idf USING (word)
),
ssq AS (SELECT doc_id, sum(w * w)::BIGINT AS ssq FROM w GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
         sum(a.w * b.w)::BIGINT AS dot
  FROM w a JOIN w b
    ON a.word = b.word AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id1, doc_id2,
       CAST(round(dot::DOUBLE / sqrt(s1.ssq::DOUBLE * s2.ssq::DOUBLE) * 1000000)
            AS BIGINT) AS tfidf_cos_micro
FROM pairs JOIN ssq s1 ON s1.doc_id = doc_id1
           JOIN ssq s2 ON s2.doc_id = doc_id2
WHERE round(dot::DOUBLE / sqrt(s1.ssq::DOUBLE * s2.ssq::DOUBLE) * 1000000)
      >= 800000
"""


def q62_unigram_nll_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram negative-log-likelihood quality score — the LM-perplexity
    proxy (CCNet-style) a pipeline computes to rank documents by fluency
    before filtering: train a unigram LM on the corpus itself (word counts
    / total tokens), score each doc by its average per-token NLL.  High
    avg-NLL = rare-word-heavy (gibberish, codes); low = boilerplate.

    Determinism contract: per-word NLL is quantized to a MILLI-INT channel
    (round(-ln(count/T) * 1000) >= 0), the per-doc sum is exact BIGINT, and
    the average uses the q06 half-up integer rounding
    ((sum*2000 + n) // (2n) -> micro units) — everything except one
    correctly-rounded ln is integer arithmetic, order-free under shuffle.
    Scale: two map-side-combined wordcount aggs (the LM fits in a
    broadcast at any corpus size after df pruning; here the full vocab is
    already tiny) + one broadcast join back to the tf rows — no shuffle
    touches the token stream twice."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        docs.select("doc_id", F.explode(C.word_tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()  # consumed by the LM agg and the scoring join: one
        # tokenize pass instead of three corpus scans (GC-cleaned)
    )
    lm = tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    total = lm.agg(F.sum("cnt").alias("t_tokens"))
    nll = lm.crossJoin(F.broadcast(total)).select(
        "word",
        F.round(
            -F.log(F.col("cnt").cast("double") / F.col("t_tokens")) * 1000
        ).cast("bigint").alias("nll_milli"),
    )
    scored = (
        tf.join(F.broadcast(nll), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("nll_milli")).alias("_s"),
        )
    )
    return scored.select(
        "doc_id", "n_tokens",
        F.floor(
            (F.col("_s") * 2000 + F.col("n_tokens"))
            / (F.lit(2) * F.col("n_tokens"))
        ).cast("bigint").alias("avg_nll_micro"),
    )


_Q62_SQL = r"""
WITH tf AS (
  SELECT doc_id, word, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\w+')) AS word
        FROM documents)
  GROUP BY doc_id, word
),
lm AS (SELECT word, sum(tf)::BIGINT AS cnt FROM tf GROUP BY word),
nll AS (
  SELECT word,
         CAST(round(-ln(cnt::DOUBLE / (SELECT sum(cnt) FROM lm)) * 1000)
              AS BIGINT) AS nll_milli
  FROM lm
)
SELECT doc_id,
       sum(tf)::BIGINT AS n_tokens,
       ((sum(tf * nll_milli) * 2000 + sum(tf)) // (2 * sum(tf)))::BIGINT
         AS avg_nll_micro
FROM tf JOIN nll USING (word)
GROUP BY doc_id
"""


def q63_lcs_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact longest-common-substring overlap pass: winnowing candidates
    (operators/suffix.containment_candidates, the MOSS fingerprint join)
    -> suffix-automaton LCS verify (operators/suffix.lcs_verify) — the
    substring tier of the dedup cascade with an EXACT overlap-length
    output, not just a containment fraction (q18).

    Constructed corpus with a closed-form oracle: per doc a 224-char hex
    base text (chained md5 of the doc_id — 16-symbol alphabet, so
    incidental cross-doc common substrings are ~4 chars); for doc_id % 5
    == 0 a copy at doc_id + 1_000_000 embedding EXACTLY
    L = 30 + doc_id % 50 chars of the base (substring at offset 51)
    between 'Z' sentinels (not a hex symbol, so the match cannot extend)
    inside otherwise-unrelated hex.  Hence LCS(base, copy) = L exactly,
    and every planted overlap (>= 30) clears the winnowing guarantee
    (k=16, window=8 -> any >= 23-char overlap shares a fingerprint), so
    recall and precision are both 1.0 and the oracle enumerates the
    planted pairs arithmetically."""
    from text_similarity_node_spark.operators.suffix import (
        containment_candidates,
        lcs_verify,
    )

    def hexpart(salt: str, n: int):
        return F.concat(*[
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"{salt}{j}")))
            for j in range(n)
        ])

    base = _load(spark, sf_dir, "documents").select("doc_id").withColumn(
        "text", hexpart("b", 7)
    )
    L = (F.lit(30) + F.col("doc_id") % 50).cast("int")
    copies = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            hexpart("c", 3), F.lit("Z"),
            F.col("text").substr(F.lit(51), L),
            F.lit("Z"), hexpart("d", 3),
        ).alias("text"),
    )
    corpus = base.unionByName(copies)
    cands, _dispositions = containment_candidates(
        corpus, "doc_id", "text", min_len=16, window=8
    )
    out = lcs_verify(cands, corpus, "doc_id", "text", min_len=30)
    return out.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        F.col("lcs_len").cast("int").alias("lcs_len"),
    )


_Q63_SQL = """
SELECT doc_id AS doc_id1,
       doc_id + 1000000 AS doc_id2,
       (30 + doc_id % 50)::INT AS lcs_len
FROM documents WHERE doc_id % 5 = 0
"""


def q64_hll_vocab_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for approximate distinct counting — the op a
    pipeline uses to size vocabularies/dictionaries at corpora too large
    for exact countDistinct: per-lang exact distinct word count alongside
    Spark's HyperLogLog++ estimate (rsd=0.02), emitting the exact count
    and a within-5% verdict.  HLL++ is deterministic (hash-register max,
    order-independent), so the verdict is stable and the driver hash
    matches iff the sketch meets its error contract on every group — the
    same audit pattern as q31/q35/q36 (oracle asserts the verdict TRUE
    with the exact count from brute-force SQL).  Scale: both aggregates
    are map-side combined; the HLL register array (not the word set)
    crosses the exchange."""
    docs = _load(spark, sf_dir, "documents").select(
        "lang", F.explode(C.word_tokens(F.col("text"))).alias("word")
    )
    agg = docs.groupBy("lang").agg(
        F.countDistinct("word").alias("n_vocab"),
        F.approx_count_distinct("word", rsd=0.02).alias("_est"),
    )
    return agg.select(
        "lang", "n_vocab",
        (
            F.abs(F.col("_est") - F.col("n_vocab"))
            <= F.col("n_vocab") * 0.05
        ).alias("within_5pct"),
    )


_Q64_SQL = r"""
SELECT lang,
       count(DISTINCT word)::BIGINT AS n_vocab,
       TRUE AS within_5pct
FROM (SELECT lang, unnest(regexp_extract_all(text, '\w+')) AS word
      FROM documents)
GROUP BY lang
"""


def q65_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-duplicate event suppression (debounce) — the telemetry
    canonicalization pass run before sessionization/training: within each
    user's (ts, event_id)-ordered stream, drop an event when its
    (event_type, value) equals the immediately preceding event's.  One
    shuffle on user_id; the lag comparison is a window over the same
    partitioning (no second exchange).  Emits the kept event ids."""
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    kept = ev.withColumn("_pt", F.lag("event_type").over(w)).withColumn(
        "_pv", F.lag("value").over(w)
    ).filter(
        F.col("_pt").isNull()
        | (F.col("_pt") != F.col("event_type"))
        | (F.col("_pv") != F.col("value"))
    )
    return kept.select("event_id", "user_id", "event_type")


_Q65_SQL = """
WITH lagged AS (
  SELECT event_id, user_id, event_type, value,
         lag(event_type) OVER w AS pt,
         lag(value) OVER w AS pv
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, event_type
FROM lagged
WHERE pt IS NULL OR pt != event_type OR pv != value
"""


def q66_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution profile — the quartile +
    tail summary a pipeline reads before setting length-filter cutoffs:
    exact p25/p50/p75/p99 of n_chars per lang (type-7 linear
    interpolation; verified bit-identical between Spark's `percentile`
    and DuckDB's `quantile_cont` on this data, emitted as micro-ints).
    Scale note: exact `percentile` buffers each group's values — fine for
    a per-LANG profile (bounded group count, values spill-able), but the
    100-TB path for high-cardinality grouping is `approx_percentile`
    (Greenwald-Khanna digest, mergeable map-side), auditable with the q64
    within-bound pattern."""
    df = _load(spark, sf_dir, "documents").select("lang", "n_chars")
    q = df.groupBy("lang").agg(
        F.expr(
            "percentile(n_chars, array(0.25, 0.5, 0.75, 0.99))"
        ).alias("_q"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    cols = {"p25": 1, "p50": 2, "p75": 3, "p99": 4}
    return q.select(
        "lang", "n_docs",
        *[
            F.round(F.element_at("_q", i) * 1e6).cast("bigint").alias(
                f"{name}_micro"
            )
            for name, i in cols.items()
        ],
    )


_Q66_SQL = """
SELECT lang, count(*)::BIGINT AS n_docs,
       CAST(round(quantile_cont(n_chars, 0.25) * 1000000) AS BIGINT) AS p25_micro,
       CAST(round(quantile_cont(n_chars, 0.50) * 1000000) AS BIGINT) AS p50_micro,
       CAST(round(quantile_cont(n_chars, 0.75) * 1000000) AS BIGINT) AS p75_micro,
       CAST(round(quantile_cont(n_chars, 0.99) * 1000000) AS BIGINT) AS p99_micro
FROM documents GROUP BY lang
"""


def q67_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split — q42's content-stable hash rule
    applied to the DUPLICATE-CLUSTER representative instead of the doc
    id, so byte-identical duplicates can never straddle the split (the
    classic eval-contamination bug: a doc in train and its copy in val).
    Composition: exact-dup canonicalization (one shuffle on md5(text),
    window-min representative — the q28 machinery) -> hash_split on the
    canonical id.  The split stays content-stable under corpus growth:
    a cluster's assignment depends only on its representative's id.  At
    the near-dup tier the same composition runs on the pipeline's CC
    cluster_id (q49/q60) — registered here at the exact tier because the
    md5 grouping is what DuckDB can mirror byte-for-byte."""
    from text_similarity_node_spark.operators.dedup import exact_dedup
    from text_similarity_node_spark.operators.text_analysis import hash_split

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    canon = exact_dedup(docs, "doc_id", "text")
    return canon.select(
        "doc_id",
        "canonical_id",
        hash_split(
            F.col("canonical_id"), train_fraction=0.9, salt="r3"
        ).alias("split"),
    )


_Q67_SQL = """
WITH canon AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
  FROM documents
)
SELECT doc_id, canonical_id,
       CASE WHEN substring(md5('r3' || canonical_id::VARCHAR), 1, 2) < 'e6'
            THEN 'train' ELSE 'val' END AS split
FROM canon
"""


def q68_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the complement of the dedup signal:
    the fraction of a doc's distinct word 5-grams that appear in NO other
    document (df == 1).  Low novelty flags boilerplate/templated docs the
    near-dup passes should inspect; high novelty marks unique content
    worth keeping.  Exact integer channel: counts are BIGINT, the
    fraction is the q06 half-up micro rule.  Scale: one map-side-combined
    gram count + a broadcast-threshold-free second agg keyed by doc —
    both shuffles carry (hash, count) rows, never text."""
    from text_similarity_node_spark.operators.text_analysis import word_shingles

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", word_shingles(C.word_tokens(F.col("text")), 5).alias("g")
    )
    grams = docs.select(
        "doc_id", F.explode(F.array_distinct("g")).alias("gram")
    )
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        grams.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.floor(
            (F.col("n_novel") * 2000000 + F.col("n_grams"))
            / (2 * F.col("n_grams"))
        ).cast("bigint").alias("novelty_micro"),
    )


_Q68_SQL = r"""
WITH words AS (
  SELECT doc_id, regexp_extract_all(text, '\w+') AS w FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS gram
  FROM words,
       LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i)
  WHERE len(w) >= 5
),
dfreq AS (SELECT gram, count(*)::BIGINT AS df FROM grams GROUP BY gram)
SELECT doc_id,
       count(*)::BIGINT AS n_grams,
       ((sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 2000000 + count(*))
        // (2 * count(*)))::BIGINT AS novelty_micro
FROM grams JOIN dfreq USING (gram)
GROUP BY doc_id
"""


def q69_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup report a pipeline
    publishes after the exact tier: how many byte-identical clusters
    exist at each size (size 1 = unique docs).  Two map-side-combined
    aggregations over md5(text); no text ever shuffles (the hash does)."""
    docs = _load(spark, sf_dir, "documents").select(
        F.md5(F.col("text")).alias("h")
    )
    sizes = docs.groupBy("h").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
        )
    )


_Q69_SQL = """
WITH sizes AS (
  SELECT md5(text) AS h, count(*)::BIGINT AS cluster_size
  FROM documents GROUP BY md5(text)
)
SELECT cluster_size, count(*)::BIGINT AS n_clusters
FROM sizes GROUP BY cluster_size
"""


def q70_behavioral_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral near-duplicate users — replay/bot detection, the events-
    table sibling of document dedup: each user's (ts, event_id)-ordered
    event_type stream is shingled into 3-grams and users with set-Jaccard
    >= 0.6 are paired.  Corpus: every user_id % 7 == 0 gets a planted
    replica at user_id + 10_000 replaying the same stream minus every
    event with event_id % 10 == 0 (a bot that drops ~10% of events) —
    planted pairs land ~0.7-0.9 while the max natural pair is 0.494, so
    the threshold has no boundary cases and the oracle is brute-force
    exact.  Scale shape: one shuffle to assemble per-user sequences
    (sort_array over collected structs — deterministic under ties), then
    the inverted-index gram join (the q30 shape; at 100x the gram key
    routes through the LSH machinery like q37).  jacc_micro = exact
    integer counts through one double division, rounded to micro."""
    ev = _load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    replicas = ev.filter(
        (F.col("user_id") % 7 == 0) & (F.col("event_id") % 10 != 0)
    ).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "ts",
        (F.col("user_id") + 10_000).alias("user_id"),
        "event_type",
    )
    allev = ev.unionByName(replicas)
    seq = allev.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ).alias("s")
    )
    shingles = F.when(
        F.size("s") >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size("s") - 3),
            lambda i: F.concat_ws(">", F.slice(F.col("s"), i + 1, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = seq.select(
        "user_id", F.explode(F.array_distinct(shingles)).alias("g")
    ).persist()  # sizes + both join sides (GC-cleaned)
    sz = grams.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_id1"),
            F.col("b.user_id").alias("user_id2"),
        )
        .agg(F.count(F.lit(1)).alias("isz"))
    )
    s1 = sz.select(F.col("user_id").alias("user_id1"), F.col("n").alias("n1"))
    s2 = sz.select(F.col("user_id").alias("user_id2"), F.col("n").alias("n2"))
    jac = F.col("isz").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("isz")
    ).cast("double")
    return (
        inter.join(s1, "user_id1").join(s2, "user_id2")
        .select(
            "user_id1", "user_id2",
            F.round(jac * 1e6).cast("bigint").alias("jacc_micro"),
        )
        .filter(F.col("jacc_micro") >= 600000)
    )


_Q70_SQL = """
WITH allev AS (
  SELECT event_id, ts, user_id, event_type FROM events
  UNION ALL
  SELECT event_id + 10000000, ts, user_id + 10000, event_type
  FROM events WHERE user_id % 7 = 0 AND event_id % 10 != 0
),
seq AS (
  SELECT user_id, list(event_type ORDER BY ts, event_id) AS s
  FROM allev GROUP BY user_id
),
grams AS (
  SELECT DISTINCT user_id, array_to_string(s[i:i+2], '>') AS g
  FROM seq, LATERAL (SELECT unnest(generate_series(1, len(s) - 2)) AS i)
  WHERE len(s) >= 3
),
sz AS (SELECT user_id, count(*)::BIGINT AS n FROM grams GROUP BY user_id),
inter AS (
  SELECT a.user_id AS user_id1, b.user_id AS user_id2, count(*)::BIGINT AS isz
  FROM grams a JOIN grams b ON a.g = b.g AND a.user_id < b.user_id
  GROUP BY 1, 2
)
SELECT user_id1, user_id2,
       CAST(round(isz::DOUBLE / (s1.n + s2.n - isz)::DOUBLE * 1000000) AS BIGINT)
         AS jacc_micro
FROM inter JOIN sz s1 ON s1.user_id = user_id1
           JOIN sz s2 ON s2.user_id = user_id2
WHERE round(isz::DOUBLE / (s1.n + s2.n - isz)::DOUBLE * 1000000) >= 600000
"""


def q71_audio_gain_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAIN robustness of the acoustic fingerprint — the third leg of the
    robustness-audit family (q51 time shift, q52 sample rate): copies are
    the same melody scaled to half volume and re-quantized to int16 (the
    volume-normalize/re-encode transformation).  Landmarks are provably
    gain-robust by construction — peak selection is relative (local
    maxima, magnitude order) and the parabolic interpolation runs on
    log-magnitude DIFFERENCES, where a constant gain cancels — and
    measured exactly invariant on this fixture (frame-peak agreement
    24/24 under 0.5x with int16 rounding).  Copies live at doc_id +
    500_000 (below the synth's 1M shift threshold, so they are
    gain-scaled but NOT time-shifted); matching is exact congruence mod
    400, the closed-form oracle."""
    from text_similarity_node_spark.operators.audio import (
        gain_pcm_udf,
        synth_melody_pcm_udf,
    )
    from text_similarity_node_spark.operators.audio_fp import (
        audio_fingerprint_pairs,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    synth = synth_melody_pcm_udf()
    base = base.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).withColumn("bytes", synth(F.col("doc_id")))
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 500_000).alias("doc_id"),
        gain_pcm_udf(0.5)(F.col("bytes")).alias("bytes"),
    )
    corpus = base.unionByName(copies).withColumn("sr_hz", F.lit(16000))
    pairs = audio_fingerprint_pairs(
        corpus,
        "doc_id",
        "bytes",
        min_matches=2,
        frame_len=4096,
        hop=2048,
        peaks_per_frame=1,
        fanout=2,
        freq_quant_hz=1.0,
    )
    return pairs.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q71_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 500000 FROM documents WHERE doc_id % 6 = 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
FROM corpus a JOIN corpus b
  ON a.doc_id < b.doc_id AND a.doc_id % 400 = b.doc_id % 400
"""


def q72_cc_twostar_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components, two-star variant
    (operators/components.py:connected_components_twostar — Kiveris et
    al.'s alternating large-star/small-star, O(log^2 n) rounds regardless
    of graph shape) exercised on the long-chain graph hash-min is worst
    at: each language's documents ordered by doc_id form one path graph
    (edge between consecutive ids), so components are exactly the
    language groups and the oracle is a per-lang min.  Chains here are
    ~n/5 links — hash-min needs ~chain-length rounds on this shape, the
    two-star digest-fixpoint loop ~2*log2(n) (the round count is asserted
    logarithmic in tests/test_components.py)."""
    from pyspark.sql import Window

    from text_similarity_node_spark.operators.components import (
        connected_components_twostar,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("doc_id")
    edges = (
        docs.withColumn("nxt", F.lead("doc_id").over(w))
        .where(F.col("nxt").isNotNull())
        .select(F.col("doc_id").alias("id1"), F.col("nxt").alias("id2"))
    )
    return connected_components_twostar(edges, max_iterations=40).select(
        F.col("clip_id").alias("doc_id"), "cluster_id"
    )


_Q72_SQL = """
WITH g AS (
  SELECT lang, count(*) AS n, min(doc_id) AS cluster_id
  FROM documents GROUP BY lang
)
SELECT d.doc_id AS doc_id, g.cluster_id AS cluster_id
FROM documents d JOIN g ON d.lang = g.lang
WHERE g.n >= 2
"""


def q73_tfidf_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-weighted Jaccard similarity join — the web-scale cure for
    boilerplate.  Plain multiset Jaccard (reference kernel #5,
    token_based.cpp:103-126) lets high-document-frequency tokens both
    inflate scores between unrelated documents and create the hot LSH
    bands the salted joins must then absorb; down-weighting by document
    frequency fixes both at the source (the SpotSigs idea).

    Weight: ``w(doc, tok) = tf * 1_000_000 div df`` — integer
    micro-scaling, so both engines sum exact BIGINTs in any order (the
    q06 lesson: no float accumulation, no HUGEINT leak — the one division
    producing the score is a single double op on two exact integers).
    Score = weighted Jaccard ``sum_shared min(w_a, w_b) / sum_union
    max(w_a, w_b)`` with the union-max sum recovered from per-doc totals
    (``W_a + W_b - sum_shared min``), so only shared tokens ever join.
    The threshold compare is integer cross-multiplication
    (``shared*100 >= den*65``) — no float boundary between engines; 0.65 sits
    in the measured gap between the corpus baseline (template-generated
    same-lang docs cluster at 0.2-0.5) and the planted near-dup tail.

    Plan shape (same family as q04, the one that scales): explode ->
    per-(doc,tok) tf (one shuffle, map-side partial agg), df by tok
    (second partial agg over already-grouped rows), weight join on tok,
    inverted-index self-join on (tok, lang) with partial-aggregated
    per-pair sums, then two joins against the doc-total table.  At 10^12
    rows the pair generation runs over LSH candidates instead (the
    q16/q37 shape) and the df table doubles as the stop-shingle
    statistic; nothing here is driver-side."""
    toks = _load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(C.word_tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "lang", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = tf.join(df_, "tok").select(
        "doc_id", "lang", "tok", F.expr("tf * CAST(1000000 AS BIGINT) div df").alias("w")
    )
    # Four consumers (two self-join sides, two total sides): persist so the
    # tokenize->tf->df subtree runs once, not four times (the q70 pattern).
    w = w.persist()
    tot = w.groupBy("doc_id").agg(F.sum("w").alias("total"))
    a, b = w.alias("a"), w.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id1"), F.col("b.doc_id").alias("doc_id2")
        )
        .agg(F.sum(F.least(F.col("a.w"), F.col("b.w"))).alias("shared"))
    )
    ta = tot.select(F.col("doc_id").alias("doc_id1"), F.col("total").alias("ta"))
    tb = tot.select(F.col("doc_id").alias("doc_id2"), F.col("total").alias("tb"))
    den = F.col("ta") + F.col("tb") - F.col("shared")
    return (
        shared.join(ta, "doc_id1")
        .join(tb, "doc_id2")
        .filter(F.col("shared") * 100 >= den * 65)
        .select(
            "doc_id1",
            "doc_id2",
            F.round(F.col("shared").cast("double") / den, 6).alias("tfidf_jaccard"),
        )
    )


_Q73_SQL = r"""
WITH tok AS (
  SELECT doc_id, lang, unnest(regexp_extract_all(text, '\w+')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, lang, tok, count(*)::BIGINT AS tf
  FROM tok GROUP BY doc_id, lang, tok
),
df AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
w AS (
  SELECT tf.doc_id, tf.lang, tf.tok, (tf.tf * 1000000) // df.df AS w
  FROM tf JOIN df USING (tok)
),
tot AS (SELECT doc_id, sum(w)::BIGINT AS total FROM w GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
         sum(least(a.w, b.w))::BIGINT AS shared
  FROM w a JOIN w b ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id1, doc_id2,
       round(shared::DOUBLE / (ta.total + tb.total - shared), 6) AS tfidf_jaccard
FROM shared
JOIN tot ta ON ta.doc_id = shared.doc_id1
JOIN tot tb ON tb.doc_id = shared.doc_id2
WHERE shared * 100 >= (ta.total + tb.total - shared) * 65
"""


def q74_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-lang bottom-k sample (operators/
    text_analysis.stratified_bottom_k): the 20 docs per lang whose
    md5('r3s' || doc_id) sorts lowest.  The audit-pass sampler a 100-TB
    corpus needs: uniform within stratum, reproducible across runs AND
    engines (the rank key is a content hash both engines compute
    identically), and mergeable — Spark plans the rank<=k filter as a
    WindowGroupLimit, so map tasks keep local bottom-k BEFORE the
    shuffle and the exchange carries O(k x strata) rows, not the corpus
    (pinned in tests/test_sampling.py).  The reference has no sampling
    surface (pairwise kernels only); this is the pipeline machinery
    around it."""
    from text_similarity_node_spark.operators.text_analysis import (
        stratified_bottom_k,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_bottom_k(docs, ["lang"], "doc_id", k=20, salt="r3s")


_Q74_SQL = """
SELECT doc_id, lang, rk AS sample_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('r3s' || doc_id::VARCHAR), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 20
"""


def q75_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture rebalancing (operators/text_analysis.
    mixture_rebalance, the DoReMi/data-mixing stage): target shares
    en/de/fr/es = 250 permille each, zh absent (target 0 -> dropped).
    keep_frac(g) = min(1, target * N_total / N_g) from MEASURED counts,
    carried in exact BIGINT arithmetic end-to-end; membership is a
    6-hex-char lexicographic threshold on md5('r3m' || doc_id) — the
    dialect-portable hash_split rule, so the oracle states the identical
    computation.  On this corpus en (218/500) is over target and gets
    partially kept, de/fr/es are under target and hit the keep-all
    sentinel ('g' > every hex char), zh exercises the drop path.  Plan:
    one tiny groupBy (5 rows) broadcast back; the documents scan is
    touched map-side only."""
    from text_similarity_node_spark.operators.text_analysis import (
        mixture_rebalance,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    targets = {"en": 250, "de": 250, "fr": 250, "es": 250}
    kept, _thr = mixture_rebalance(docs, "lang", "doc_id", targets, salt="r3m")
    return kept.select("doc_id", "lang")


_Q75_SQL = """
WITH c AS (SELECT lang, count(*)::BIGINT AS n_rows FROM documents GROUP BY lang),
t AS (SELECT sum(n_rows)::BIGINT AS n_total FROM c),
m(lang, target_milli) AS (
  VALUES ('en', 250::BIGINT), ('de', 250::BIGINT),
         ('fr', 250::BIGINT), ('es', 250::BIGINT)
),
thr AS (
  SELECT c.lang,
         least(1000000::BIGINT,
               (1000::BIGINT * coalesce(m.target_milli, 0) * t.n_total)
               // c.n_rows) AS keep_micro
  FROM c CROSS JOIN t LEFT JOIN m USING (lang)
),
thr2 AS (
  SELECT lang,
         CASE WHEN keep_micro >= 1000000 THEN 'g'
              ELSE lpad(lower(format('{:x}',
                       (keep_micro * 16777216::BIGINT) // 1000000)), 6, '0')
         END AS thr_hex
  FROM thr
)
SELECT d.doc_id, d.lang
FROM documents d JOIN thr2 USING (lang)
WHERE substring(md5('r3m' || d.doc_id::VARCHAR), 1, 6) < thr_hex
"""


def q76_wminhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable recall audit for the WEIGHTED-MinHash (ICWS) LSH
    path — the scale-shaped candidate generator for q73's TF-IDF-weighted
    Jaccard metric.  Plain MinHash samples distinct tokens uniformly and
    is blind to weights; ICWS (operators/weighted_minhash.py, Ioffe 2010)
    gives P(slot agree) = J_w exactly, so the S-curve transfers: at b=32
    bands of r=2 rows, a truth pair (J_w >= 0.65) is missed with
    probability (1 - 0.65^2)^32 ~= 2e-8 — deterministic hashes, fixed
    corpus, so n_missed = 0 is an assertable oracle row (the q31/q35
    pattern).  Ground truth = q73's exact scored pairs; candidates run
    the PRODUCTION shape: ICWS signatures -> exploded bands -> the
    salted/capped skew-aware join (lsh.candidate_pairs).  Emits one row
    (n_truth, n_missed)."""
    from text_similarity_node_spark.config import PipelineConfig
    from text_similarity_node_spark.operators import lsh, minhash
    from text_similarity_node_spark.operators.weighted_minhash import (
        with_weighted_minhash,
    )

    cfg = PipelineConfig(
        minhash_k=64, lsh_bands=32, lsh_rows=2,
        hot_band_threshold=500, salt_buckets=8,
    )
    truth = (
        q73_tfidf_weighted_jaccard(spark, sf_dir)
        .select(F.col("doc_id1").alias("id1"), F.col("doc_id2").alias("id2"))
        .persist()
    )
    # the same integer micro-weight table as q73, grouped to per-doc
    # aligned (tokens, weights) arrays — JVM transform, order-free (ICWS
    # is an argmin over tokens)
    toks = _load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(C.word_tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = tf.join(df_, "tok").select(
        "doc_id", "tok", F.expr("tf * CAST(1000000 AS BIGINT) div df").alias("w")
    )
    docs = (
        w.groupBy("doc_id")
        .agg(F.collect_list(F.struct("tok", "w")).alias("tw"))
        .select(
            "doc_id",
            F.transform("tw", lambda x: x["tok"]).alias("tokens"),
            F.transform("tw", lambda x: x["w"]).alias("weights"),
        )
    )
    sig = with_weighted_minhash(docs, "tokens", "weights", k=64, seed=99)
    bands = minhash.explode_bands(
        sig.select("doc_id", "wminhash"), "doc_id", "wminhash", cfg
    )
    cand, _metrics = lsh.candidate_pairs(bands, cfg, id_col="doc_id")
    found = truth.join(cand.select("id1", "id2"), ["id1", "id2"], "left_semi")
    return truth.agg(F.count(F.lit(1)).alias("n_truth")).crossJoin(
        found.agg(F.count(F.lit(1)).alias("_nf"))
    ).select(
        "n_truth", (F.col("n_truth") - F.col("_nf")).alias("n_missed")
    )


_Q76_SQL = (
    "SELECT count(*)::BIGINT AS n_truth, 0::BIGINT AS n_missed FROM ("
    + _Q73_SQL
    + ")"
)


def q77_percentile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for the MERGEABLE percentile path — the
    q64-for-quantiles.  q66 computes exact per-lang length quartiles,
    which at 100 TB needs a per-group sort; the scale path is Spark's
    Greenwald-Khanna sketch (percentile_approx, accuracy=100 -> rank
    error eps = 1/100), which is map-side combinable and merges across
    partitions/executors like any partial aggregate.  This audit
    certifies the sketch against its published contract: for q in
    {0.5, 0.99}, the RANK of the returned value (count of lengths <=
    approx, one distributed agg — no collect, no sort) must lie within
    floor(eps*n)+1 of the target rank ceil(q*n).  The raw sketch output
    can shift with partitioning (merge order), so the hashed row is the
    VERDICT, not the value: the contract bound holds for ANY valid GK
    state, which makes the row stable under re-planning — the exact
    trick that made q64's HLL audit driver-hashable.  Oracle asserts
    the verdicts TRUE with exact n from SQL."""
    lens = _load(spark, sf_dir, "documents").select(
        "lang", F.length("text").alias("L")
    )
    sk = lens.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile_approx("L", 0.5, 100).alias("_p50"),
        F.percentile_approx("L", 0.99, 100).alias("_p99"),
    )
    ranks = (
        lens.join(F.broadcast(sk), "lang")
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("L") <= F.col("_p50"), 1).otherwise(0)).alias("_r50"),
            F.sum(F.when(F.col("L") <= F.col("_p99"), 1).otherwise(0)).alias("_r99"),
        )
    )

    def _ok(rank_col: str, q: float):
        target = F.ceil(F.col("n_docs") * q)
        slack = F.floor(F.col("n_docs") * 0.01) + 1
        return F.abs(F.col(rank_col) - target) <= slack

    return (
        sk.join(ranks, "lang")
        .select(
            "lang",
            "n_docs",
            _ok("_r50", 0.5).alias("p50_within_contract"),
            _ok("_r99", 0.99).alias("p99_within_contract"),
        )
    )


_Q77_SQL = """
SELECT lang, count(*)::BIGINT AS n_docs,
       TRUE AS p50_within_contract, TRUE AS p99_within_contract
FROM documents GROUP BY lang
"""


def q78_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing (operators/
    text_analysis.sequence_packing): per lang, documents concatenate in
    doc_id order and slice into 512-token training contexts; per
    (lang, pack_id) report docs starting in the pack, their token mass,
    and how many straddle a slice boundary — the padding-free packing
    accounting a batch-writer emits.  Token counts are the q06 word rule
    (ASCII \\b\\w+\\b), so both engines count identically.  Plan: one
    scan, one exchange (hash by lang for the running sum), groupBy reuses
    the window's clustering; at 100 TB the group key becomes
    (lang, shard) and the sequential window parallelizes per shard (see
    the operator docstring).  The reference has no packing surface; this
    is pipeline machinery around its kernels."""
    from text_similarity_node_spark.operators.text_analysis import (
        sequence_packing,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return (
        sequence_packing(
            docs,
            ["lang"],
            "doc_id",
            F.size(C.word_tokens(F.col("text"))),
            budget=512,
        )
        .orderBy("lang", "pack_id")
    )


_Q78_SQL = """
WITH spans AS (
  SELECT lang, doc_id,
         len(regexp_extract_all(text, '\\w+'))::BIGINT AS n_tok,
         sum(len(regexp_extract_all(text, '\\w+'))::BIGINT) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_end
  FROM documents
)
SELECT lang,
       ((cum_end - n_tok) // 512)::BIGINT AS pack_id,
       count(*)::BIGINT AS n_docs,
       sum(n_tok)::BIGINT AS n_tokens,
       sum(CASE WHEN ((cum_end - 1) // 512) > ((cum_end - n_tok) // 512)
                THEN 1 ELSE 0 END)::BIGINT AS n_straddlers
FROM spans
GROUP BY lang, pack_id
ORDER BY lang, pack_id
"""


def q79_audio_zcr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip audio feature extraction through the binary-payload path:
    zero-crossing count and int16 peak of the q27 analytic sine payloads
    (operators/audio.zcr_count_udf / peak_abs_udf), plus the ZCR-implied
    dominant-frequency estimate in milli-Hz (exact integer arithmetic:
    zcr * sr * 1000 div (2 * (n-1))).  ZCR uses the strict
    sign-product-negative rule so the DuckDB oracle can restate the count
    over the identical truncated-int16 samples — a real DSP feature with
    a bit-exact cross-engine contract.  Scale: like q27, payloads are
    derived and consumed inside one stage (never shuffled); the UDFs are
    Arrow-batched.  Reference ground: the reference has no audio surface;
    this extends its fingerprint/verify semantics (q32) with the feature
    stage a training pipeline runs before filtering."""
    from text_similarity_node_spark.operators.audio import (
        peak_abs_udf,
        synth_sine_pcm_udf as synth,
        zcr_count_udf,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    clips = docs.select("doc_id", synth(F.col("doc_id")).alias("bytes"))
    feats = clips.select(
        "doc_id",
        (F.length("bytes") / 2).cast("long").alias("n_samples"),
        zcr_count_udf(F.col("bytes")).alias("zcr"),
        peak_abs_udf(F.col("bytes")).alias("peak"),
    )
    return feats.withColumn(
        "est_freq_mhz",
        F.expr("(zcr * 16000 * 1000) div (2 * (n_samples - 1))"),
    ).orderBy("doc_id")


_Q79_SQL = """
WITH samp AS (
  SELECT d.doc_id, i,
         trunc(16384.0 * sin(2 * pi() * (100 + d.doc_id % 400) * i / 16000.0))::BIGINT AS v
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(0, 799)) AS i)
), lagged AS (
  SELECT doc_id, v,
         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM samp WHERE v <> 0
), zc AS (
  SELECT doc_id,
         sum(CASE WHEN v * pv < 0 THEN 1 ELSE 0 END)::BIGINT AS zcr
  FROM lagged GROUP BY doc_id
), feats AS (
  SELECT s.doc_id,
         count(*)::BIGINT AS n_samples,
         max(abs(s.v))::BIGINT AS peak,
         any_value(zc.zcr) AS zcr
  FROM samp s JOIN zc ON s.doc_id = zc.doc_id
  GROUP BY s.doc_id
)
SELECT doc_id, n_samples, zcr, peak,
       ((zcr * 16000 * 1000) // (2 * (n_samples - 1)))::BIGINT AS est_freq_mhz
FROM feats ORDER BY doc_id
"""


def q80_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via Bloom prefilter + exact verify
    (operators/bloom.bloom_contamination_check): identical semantics to
    q40's exact broadcast join, re-shaped for a known-gram side too big
    to broadcast exactly (novelty vs a prior training corpus, multi-TB
    blocklists): the known set becomes an m-bit Bloom bitmap (built
    distributively, OR-reduced, ~10x smaller than the exact 8-byte hash
    set at 1% FPR), corpus grams probe it in one Arrow-batched pass, and
    only the survivors (true hits + ~fpr of the rest) enter a skinny
    shuffle verify join.  Bloom filters have NO false negatives, so the
    output equals the exact join byte-for-byte — which is precisely what
    this oracle checks: the DuckDB side is the PLAIN exact join; a red
    hash here means a build/probe domain drift.  Planting mirrors q40
    with fresh parameters: the known set is every doc_id % 89 == 0, and
    docs with doc_id % 17 == 4 get the concatenated known texts appended
    — both engines derive the corpus identically."""
    from text_similarity_node_spark.operators.bloom import (
        bloom_contamination_check,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 89 == 0)
    src = bench.select(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s["text"],
            ),
        ).alias("_src")
    )
    targets = docs.filter(F.col("doc_id") % 89 != 0).crossJoin(F.broadcast(src))
    corpus = targets.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 17 == 4,
            F.concat(F.col("text"), F.lit(" "), F.col("_src")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return bloom_contamination_check(corpus, bench, "doc_id", "text", n=13)


_Q80_SQL = """
WITH src AS (
  SELECT string_agg(text, ' ' ORDER BY doc_id) AS s
  FROM documents WHERE doc_id % 89 = 0
),
corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 4
              THEN text || ' ' || (SELECT s FROM src)
              ELSE text END AS text
  FROM documents WHERE doc_id % 89 <> 0
),
words_c AS (
  SELECT doc_id, regexp_extract_all(text, '\\w+') AS w FROM corpus
),
words_b AS (
  SELECT doc_id, regexp_extract_all(text, '\\w+') AS w
  FROM documents WHERE doc_id % 89 = 0
),
grams_c AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+12], ' ') AS g
  FROM words_c,
       LATERAL (SELECT unnest(generate_series(1, len(w) - 12)) AS i)
  WHERE len(w) >= 13
),
grams_b AS (
  SELECT DISTINCT array_to_string(w[i:i+12], ' ') AS g
  FROM words_b,
       LATERAL (SELECT unnest(generate_series(1, len(w) - 12)) AS i)
  WHERE len(w) >= 13
)
SELECT doc_id, count(*)::BIGINT AS n_contaminated_grams
FROM grams_c JOIN grams_b USING (g)
GROUP BY doc_id
"""


def q81_index_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-disposition audit for keyed candidate joins — the accounting
    behind the LSH/band machinery's cold/salted/dropped routing
    (operators/lsh.candidate_pairs), restated over a key domain DuckDB
    can recompute exactly: character-trigram posting lists (the q04
    inverted index).  Per disposition class (audit-scale thresholds:
    cold <= 64 docs, salted <= 256, dropped above) it reports the key
    count, the row mass, and the quadratic pair-work n*(n-1)/2 each key
    would inject into a bare equi-join — i.e. exactly how much work the
    cap/salt policy routes away from single reducers.  This is the
    no-silent-caps ledger as a first-class oracled query: at 100 TB you
    run this profile BEFORE picking band_cap/hot_band_threshold, because
    the dropped-class pair_work column is the quadratic blowup a naive
    join would execute.  Scale shape: one shuffle on the gram key, pure
    JVM integer arithmetic, 3-row output."""
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(C.char_ngrams(F.col("text"), 3)).alias("g")
    )
    posting = docs.distinct().groupBy("g").agg(
        F.count(F.lit(1)).alias("n")
    )
    classed = posting.select(
        F.when(F.col("n") > 256, F.lit("dropped"))
        .when(F.col("n") > 64, F.lit("salted"))
        .otherwise(F.lit("cold"))
        .alias("disposition"),
        "n",
    )
    return (
        classed.groupBy("disposition")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.sum(F.expr("n * (n - 1) div 2")).alias("pair_work"),
        )
        .orderBy("disposition")
    )


_Q81_SQL = """
WITH grams AS (
  SELECT DISTINCT doc_id, substring(text, i, 3) AS g
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i)
),
posting AS (
  SELECT g, count(*)::BIGINT AS n FROM grams GROUP BY g
),
classed AS (
  SELECT CASE WHEN n > 256 THEN 'dropped'
              WHEN n > 64 THEN 'salted'
              ELSE 'cold' END AS disposition,
         n
  FROM posting
)
SELECT disposition,
       count(*)::BIGINT AS n_keys,
       sum(n)::BIGINT AS n_rows,
       sum(n * (n - 1) // 2)::BIGINT AS pair_work
FROM classed
GROUP BY disposition
ORDER BY disposition
"""


def q82_source_dedup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate attribution — the curation report a pipeline
    runs after exact dedup to decide source priorities and spot mirror
    sites: for every source, how many rows it contributed, how many it
    loses to dedup (non-canonical members of an identical-content group,
    keep-first policy), how many canonical copies it holds that other
    rows point at, and its integer-micro dup rate.  The corpus plants
    the two classic shapes deterministically: a 'mirror' source
    rehosting every doc_id % 5 == 0 verbatim (at +1M ids: 100% dup
    rate), and intra-source republication of every doc_id % 3 == 0 (at
    +3M ids, same source).  Scale shape: exact_dedup's single shuffle on
    md5(text), then a map-side-combinable groupBy on the low-cardinality
    source key — attribution is free on top of the dedup pass."""
    from text_similarity_node_spark.operators.dedup import exact_dedup

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    mirror = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("source", F.lit("mirror"))
    )
    rerun = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .withColumn("doc_id", F.col("doc_id") + 3_000_000)
    )
    corpus = docs.unionByName(mirror).unionByName(rerun)
    flagged = exact_dedup(corpus, "doc_id", "text")
    # canonical rows whose group has dependents: count group members - 1
    # per canonical, attributed to the canonical's source
    grp = flagged.groupBy(
        F.col("canonical_id").alias("grp_canon")
    ).agg((F.count(F.lit(1)) - 1).alias("n_dependents"))
    canon = (
        flagged.filter(~F.col("is_duplicate"))
        .join(grp, F.col("doc_id") == F.col("grp_canon"))
        .groupBy("source")
        .agg(F.sum("n_dependents").alias("n_canonical_dependents"))
    )
    per_source = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_duplicate").cast("bigint")).alias("n_dups_lost"),
    )
    return (
        per_source.join(canon, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_dups_lost",
            F.coalesce("n_canonical_dependents", F.lit(0)).alias(
                "n_canonical_dependents"
            ),
            F.expr("n_dups_lost * 1000000 div n_docs").alias("dup_rate_micro"),
        )
        .orderBy("source")
    )


_Q82_SQL = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 'mirror' FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 3000000, text, source FROM documents WHERE doc_id % 3 = 0
),
flagged AS (
  SELECT doc_id, source,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
         count(*) OVER (PARTITION BY md5(text)) AS grp_n
  FROM corpus
),
canon AS (
  SELECT source, sum(grp_n - 1)::BIGINT AS n_canonical_dependents
  FROM flagged WHERE doc_id = canonical_id
  GROUP BY source
),
per_source AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END)::BIGINT AS n_dups_lost
  FROM flagged GROUP BY source
)
SELECT p.source, p.n_docs, p.n_dups_lost,
       coalesce(c.n_canonical_dependents, 0)::BIGINT AS n_canonical_dependents,
       (p.n_dups_lost * 1000000 // p.n_docs)::BIGINT AS dup_rate_micro
FROM per_source p LEFT JOIN canon c ON p.source = c.source
ORDER BY p.source
"""


def q83_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings report — the number a curation team actually reads
    off the cascade: per tier (0 kept / 1 exact-dup removed / 2 near-dup
    removed), how many docs, how many word tokens, and how many chars
    that tier holds.  Tier mass 1+2 is the compute the downstream trainer
    does NOT spend; tier 0 is the surviving corpus.  Composes q49's
    cascade (exact -> scale-shaped LSH near-dup -> CC) with the corpus
    token accounting — one extra broadcast-sized join and a 3-row
    map-side-combinable aggregate on top of the cascade's own plan, so
    the report is free at any scale the cascade itself runs at.  Pure
    integer output channels (counts, token sums, char sums)."""
    cascade = q49_dedup_cascade(spark, sf_dir).select("doc_id", "tier")
    corpus = _dedup_corpus(spark, sf_dir).select(
        "doc_id",
        F.size(C.word_tokens(F.col("text"))).alias("tok"),
        F.length("text").alias("nch"),
    )
    return (
        cascade.join(corpus, "doc_id")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.sum("nch").alias("total_chars"),
        )
        .orderBy("tier")
    )


_Q83_SQL = f"""
WITH RECURSIVE corpus AS ({_DEDUP_CORPUS_SQL}),
ex AS (
  SELECT doc_id, text, lang, min(doc_id) OVER (PARTITION BY text) AS c
  FROM corpus
),
surv AS (
  SELECT doc_id, text, lang, length(text) AS n_chars FROM ex WHERE doc_id = c
),
grams AS (
  SELECT doc_id, substring(text, i, 3) AS g, count(*) AS cnt
  FROM surv,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i)
  GROUP BY doc_id, substring(text, i, 3)
),
meta AS (
  SELECT doc_id, lang, n_chars, greatest(length(text) - 2, 1) AS total FROM surv
),
inter AS (
  SELECT g1.doc_id AS a, g2.doc_id AS b, sum(least(g1.cnt, g2.cnt)) AS isz
  FROM grams g1 JOIN grams g2 ON g1.g = g2.g AND g1.doc_id < g2.doc_id
  GROUP BY g1.doc_id, g2.doc_id
),
edges AS (
  SELECT i.a, i.b
  FROM inter i
  JOIN meta m1 ON m1.doc_id = i.a
  JOIN meta m2 ON m2.doc_id = i.b
  WHERE m1.lang = m2.lang AND abs(m1.n_chars - m2.n_chars) <= 40
    AND i.isz::DOUBLE / (m1.total + m2.total - i.isz) >= 0.55
),
sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach AS (
  SELECT doc_id AS a, doc_id AS b FROM surv
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
clus AS (SELECT a AS doc_id, min(b) AS m FROM reach GROUP BY a),
pertier AS (
  SELECT e.doc_id, e.text,
         (CASE WHEN e.doc_id != e.c THEN 1
               WHEN cl.m != e.doc_id THEN 2
               ELSE 0 END)::INT AS tier
  FROM ex e JOIN clus cl ON cl.doc_id = e.c
)
SELECT tier,
       count(*)::BIGINT AS n_docs,
       sum(len(regexp_extract_all(text, '\\w+')))::BIGINT AS total_tokens,
       sum(length(text))::BIGINT AS total_chars
FROM pertier
GROUP BY tier
ORDER BY tier
"""


def q84_bbit_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dup pairs through 1-bit MinHash — the signature-
    compression tier (operators/bbit_minhash.py): k=256 slots packed to
    four int64 words (32x smaller than the 64-bit signature the full
    pipeline shuffles), 16-bit bit-bands through the salted LSH join,
    exact SET trigram-Jaccard verify at 0.95.  Corpus: documents plus a
    suffixed copy (text || ' the end.') at doc_id+3_000_000 for
    doc_id % 4 == 0 — near-identical shingle sets.  The oracle
    brute-forces the exact set-Jaccard >= 0.95 pairs in SQL; the hash
    matches iff the compressed sketch's recall on this corpus is exactly
    1.0 (precision is 1.0 by construction — the verify is exact).
    Reference ground: exact Jaccard semantics per
    /root/reference/src/algorithms/token_based.cpp:30-43; the sketch
    tier is distributed-scale machinery the reference has no analogue
    for (Li & Koenig, WWW 2010)."""
    from text_similarity_node_spark.operators.bbit_minhash import (
        bbit_neardup_pairs,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" the end.")).alias("text"),
    )
    corpus = docs.unionByName(copies).select(
        "doc_id", C.char_ngrams(F.col("text"), 3).alias("tokens")
    )
    pairs = bbit_neardup_pairs(corpus, "doc_id", "tokens", threshold=0.95)
    return pairs.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q84_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000, text || ' the end.' FROM documents
  WHERE doc_id % 4 = 0
),
grams AS (
  SELECT DISTINCT doc_id, substring(text, i, 3) AS g
  FROM corpus,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
  SELECT g1.doc_id AS id1, g2.doc_id AS id2, count(*) AS isz
  FROM grams g1 JOIN grams g2 ON g1.g = g2.g AND g1.doc_id < g2.doc_id
  GROUP BY g1.doc_id, g2.doc_id
)
SELECT i.id1 AS doc_id1, i.id2 AS doc_id2
FROM inter i
JOIN sizes s1 ON s1.doc_id = i.id1
JOIN sizes s2 ON s2.doc_id = i.id2
WHERE i.isz::DOUBLE / (s1.sz + s2.sz - i.isz) >= 0.95
"""


def q85_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q58's vocabulary head re-derived through the Misra-Gries candidate
    pass (operators/heavy_hitters.py) — same oracle on purpose, the
    q04/q37 convention: the MG pass caps what each partition emits at k'
    counter rows instead of its full distinct vocabulary, then exact-
    recounts only the candidates, and PROVES the answer exact (k-th
    count > N/k', else it falls back to the full aggregation).  At 100 TB
    the plain wordcount exchange carries the entire heavy-tailed vocab;
    this plan's exchange is O(partitions * k')."""
    from pyspark.sql import Window

    from text_similarity_node_spark.operators.heavy_hitters import exact_topk

    docs = _load(spark, sf_dir, "documents").select("text")
    items = docs.select(F.explode(C.word_tokens(F.col("text"))).alias("word"))
    top = exact_topk(items, "word", 20, k_counters=1024)
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    return top.select(
        "word", "n", F.row_number().over(w).cast("int").alias("rank")
    ).orderBy("rank")


def q86_audio_cdc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio byte-stream containment pairs via content-defined chunking
    (operators/audio_cdc.py) — the splice-robust EXACT tier between md5
    payload dedup (whole-stream only) and spectral landmarks (lossy,
    noise-robust): Gear-hash boundaries resync after an insertion, so
    clips that embed the same PCM segment behind different prefixes and
    suffixes share their interior chunks verbatim.  Corpus: one payload
    per doc = unique junk prefix (length keyed to doc_id) || 6000-byte
    segment shared by the doc_id % 125 class || unique junk suffix.  Two
    clips share content iff doc_id % 125 matches — the SQL oracle; the
    Spark side must recover exactly those pairs from the bytes alone
    (>= 3 shared chunks), with cross-class chunk collisions impossible
    (blake2b-64 content digests over seeded-random bytes).  mask_bits=8
    (~256-byte average chunks): at the 512-byte default a shared segment
    with a sparse natural-cut pattern can run on forced max_size cuts,
    which never phase-resync across different prefix lengths — measured
    24/750 pairs under 3 shared chunks at 512B vs 0/750 at 256B (worst
    pair shares 7)."""
    from text_similarity_node_spark.operators.audio_cdc import (
        cdc_shared_chunk_pairs,
        synth_cdc_payload_udf,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    clips = docs.withColumn("bytes", synth_cdc_payload_udf(125)(F.col("doc_id")))
    pairs = cdc_shared_chunk_pairs(
        clips, "doc_id", "bytes", min_shared=3, mask_bits=8
    )
    return pairs.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q86_SQL = """
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
FROM documents a JOIN documents b
  ON a.doc_id < b.doc_id AND a.doc_id % 125 = b.doc_id % 125
"""


def q87_bow_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive exact dedup: canonical key = md5 over the SORTED
    word multiset, so documents whose words were reordered (scraper
    re-templating, list-order jitter, copy-paste shuffles) collapse into
    one group even though byte-exact dedup (q05) sees distinct texts.
    Corpus: documents plus a word-REVERSED copy at doc_id+4_000_000 for
    doc_id % 3 == 0 — same bag, different bytes.  Emits one row per
    group with >1 member: keeper (min doc_id), group size, and the
    number of DISTINCT byte texts in the group (>1 where byte-exact
    dedup would have missed members).  Pure JVM (sort_array + md5 —
    whole-stage codegen, no Python); the groupBy shuffles one 32-char
    key + two ints per doc, never the text.  At 10^12 rows this is the
    same single-shuffle shape as q05 with a canonicalization expression
    in front."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(F.split(F.col("text"), " "))).alias("text"),
    )
    corpus = docs.unionByName(copies)
    key = F.md5(F.concat_ws("\x01", F.sort_array(F.split(F.col("text"), " "))))
    return (
        corpus.select("doc_id", key.alias("bow_key"), "text")
        .groupBy("bow_key")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("text").alias("n_distinct_texts"),
        )
        .filter(F.col("n_members") > 1)
        .select("keep_id", "n_members", "n_distinct_texts")
    )


def q88_span_dedup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (operators/span_dedup.py — the Lee et
    al. 2022 exact-substring pass, re-expressed as relational ops): per
    doc, how many token positions are covered by a 15-token window whose
    exact text occurs at >= 2 (doc, position) places corpus-wide, with
    overlapping spans interval-merged.  Doc-level dedup keeps a document
    that merely CONTAINS a viral paragraph; this measures the repeated
    span mass itself.  Corpus: documents plus the first-20-token slice
    of every doc_id % 6 == 0 doc at doc_id+5_000_000 — each plant
    duplicates exactly its 6 interior windows in the source, and organic
    exact-dup texts duplicate all theirs.  No UDF anywhere; the oracle
    restates the window/count/island plan in SQL verbatim."""
    from text_similarity_node_spark.operators.span_dedup import (
        duplicated_span_coverage,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(C.word_tokens(F.col("text")), 1, 20)).alias("text"),
    )
    corpus = docs.unionByName(copies).select(
        "doc_id", C.word_tokens(F.col("text")).alias("tokens")
    )
    return duplicated_span_coverage(corpus, "doc_id", "tokens", w=15)


_Q88_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 5000000,
         array_to_string(list_slice(regexp_extract_all(text, '\w+'), 1, 20), ' ')
  FROM documents WHERE doc_id % 6 = 0
),
toks AS (
  SELECT doc_id, regexp_extract_all(text, '\w+') AS t FROM corpus
),
wins AS (
  SELECT doc_id, len(t) AS n_tokens, i AS p,
         array_to_string(list_slice(t, i, i + 14), ' ') AS win
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - 14)) AS i)
  WHERE len(t) >= 15
),
flagged AS (
  SELECT doc_id, n_tokens, p, p + 14 AS e
  FROM wins
  WHERE win IN (SELECT win FROM wins GROUP BY win HAVING count(*) > 1)
),
marked AS (
  SELECT doc_id, n_tokens, p, e,
         CASE WHEN p > coalesce(max(e) OVER (
                PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) + 1, -1) THEN 1 ELSE 0 END AS new_isl
  FROM flagged
),
islands AS (
  SELECT doc_id, n_tokens, p, e,
         sum(new_isl) OVER (
           PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS isl
  FROM marked
),
cov AS (
  SELECT doc_id, n_tokens, isl, max(e) - min(p) + 1 AS c
  FROM islands GROUP BY doc_id, n_tokens, isl
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens, sum(c)::BIGINT AS n_covered
FROM cov GROUP BY doc_id, n_tokens
"""


_Q87_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 4000000,
         array_to_string(list_reverse(string_split(text, ' ')), ' ')
  FROM documents WHERE doc_id % 3 = 0
),
keyed AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(string_split(text, ' ')), chr(1))) AS k,
         text
  FROM corpus
)
SELECT min(doc_id) AS keep_id,
       count(*)::BIGINT AS n_members,
       count(DISTINCT text)::BIGINT AS n_distinct_texts
FROM keyed
GROUP BY k
HAVING count(*) > 1
"""


#: BPE-ish pre-tokenizer (the GPT-2 pattern family, public): contractions,
#: space-prefixed letter runs, space-prefixed digit runs, space-prefixed
#: punctuation runs, whitespace runs.  The canonical GPT-2 regex ends with
#: ``\s+(?!\S)|\s+``; RE2 (DuckDB) has no lookahead, so the lookahead
#: branch is dropped — on both engines the SAME simplified pattern runs,
#: so counts agree by construction (the lookahead only changes how a
#: trailing space glues to the next token, not the cross-engine contract).
_BPE_PAT = r"'[a-zA-Z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def q89_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware accounting — the number a training pipeline costs
    its corpus in, BEFORE the real tokenizer runs: per doc, the BPE-ish
    pre-token count (GPT-2 pre-tokenizer pattern family over JVM
    regexp_extract_all — whole-stage codegen, no UDF), the whitespace
    word count, and the bytes-per-pre-token fertility in exact
    integer-micro.  Pre-token count upper-bounds the BPE token count and
    tracks it closely on natural text (every BPE merge happens inside a
    pre-token); fertility flags documents that will tokenize expensively
    (code, tables, non-Latin scripts).  Counts are pure integers so the
    oracle hashes bit-for-bit."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0)))
    n_words = F.size(C.word_tokens(F.col("text")))
    return (
        docs.select(
            "doc_id",
            F.length("text").cast("long").alias("_nch"),
            n_bpe.cast("long").alias("n_pretokens"),
            n_words.cast("long").alias("n_words"),
        )
        .filter(F.col("n_pretokens") > 0)
        # `div` is exact BIGINT floor division (the q06 integer-channel
        # discipline) — a double `/` + cast can round up across the floor
        .select(
            "doc_id", "n_pretokens", "n_words",
            F.expr("(_nch * 1000000L) div n_pretokens")
            .alias("bytes_per_pretoken_micro"),
        )
    )


_Q89_SQL = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '''[a-zA-Z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+'))::BIGINT
         AS n_pretokens,
       len(regexp_extract_all(text, '\w+'))::BIGINT AS n_words,
       ((length(text)::BIGINT * 1000000)
         // len(regexp_extract_all(text, '''[a-zA-Z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+'))::BIGINT)::BIGINT
         AS bytes_per_pretoken_micro
FROM documents
WHERE len(regexp_extract_all(text, '''[a-zA-Z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+')) > 0
"""


def q90_crosscorpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup decision — the bulk form of what a training
    pipeline runs on every new crawl: dedupe the NEW snapshot against the
    already-INDEXED corpus (never new-vs-new; re-crawls must not evict
    history).  Candidates come from the production MinHash/LSH band join
    (operators/lsh.candidate_pairs — same salted/capped skew machinery as
    q16) run bipartite by unioning both corpora into one id space and
    keeping only cross-side pairs; exact set word-Jaccard (reference kernel
    #5 WORD mode, token_based.cpp:128-159) verifies in pure-integer
    arithmetic (5*|A∩B| >= 4*|A∪B| <=> J >= 0.8, no float at the
    boundary).  Output: one verdict row per new doc — drop (with the
    lowest matched old id and match count) or keep.

    New snapshot (deterministic, restated by the oracle): doc_id%4==0 a
    near-dup re-crawl (first 10 chars lost), %4==1 a byte-identical
    re-crawl, %4==2 a 40-char teaser fragment (must be kept — fragments
    are new content under set-Jaccard).  Banding b=21/r=3 puts capture
    P at the 0.8 verify threshold at 1-3e-7 per pair; the LSH+verify
    composition is deterministic (seeded), and its output equals the
    exact oracle at the registered SFs — a red hash here means the
    probabilistic tier actually lost a pair.

    At 100 TB the shape holds: the indexed side's bands are precomputed
    once (the streaming store in streaming/incremental.py maintains them);
    per snapshot only new-side signatures shuffle, and the verdict agg is
    one groupBy on the new id."""
    from text_similarity_node_spark.config import PipelineConfig
    from text_similarity_node_spark.operators import lsh, minhash

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.select(F.col("doc_id").alias("id"), "text")
    new = (
        docs.filter(F.col("doc_id") % 4 == 0)
        .select(
            (F.col("doc_id") + 3_000_000).alias("id"),
            F.expr("substring(text, 11)").alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 4 == 1).select(
                (F.col("doc_id") + 4_000_000).alias("id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 4 == 2).select(
                (F.col("doc_id") + 5_000_000).alias("id"),
                F.expr("substring(text, 1, 40)").alias("text"),
            )
        )
    )
    both = (
        old.unionByName(new)
        .select("id", F.array_distinct(C.word_tokens(F.col("text"))).alias("toks"))
    )
    cfg = PipelineConfig(
        minhash_k=63, lsh_bands=21, lsh_rows=3,
        hot_band_threshold=500, salt_buckets=8,
        verify_threshold=0.8,
    )
    sig = minhash.with_minhash(both, "toks", cfg).select("id", "minhash")
    bands = minhash.explode_bands(sig, "id", "minhash", cfg)
    pairs, _metrics = lsh.candidate_pairs(bands, cfg, id_col="id")
    # id1 < id2 by construction; cross-side pairs have the old id left of
    # the 3M offset and the new id right of it
    cross = pairs.filter(
        (F.col("id1") < 3_000_000) & (F.col("id2") >= 3_000_000)
    )
    t_old = both.select(F.col("id").alias("id1"), F.col("toks").alias("toks1"))
    t_new = both.select(F.col("id").alias("id2"), F.col("toks").alias("toks2"))
    inter = F.size(F.array_intersect(F.col("toks1"), F.col("toks2")))
    uni = F.size("toks1") + F.size("toks2") - inter
    matches = (
        cross.join(t_old, "id1")
        .join(t_new, "id2")
        .filter(inter * 5 >= uni * 4)
        .groupBy(F.col("id2").alias("new_id"))
        .agg(
            F.min("id1").alias("matched_old_id"),
            F.count(F.lit(1)).alias("n_matches"),
        )
    )
    return (
        new.select(F.col("id").alias("new_id"))
        .join(matches, "new_id", "left")
        .select(
            "new_id",
            F.when(F.col("matched_old_id").isNull(), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("verdict"),
            "matched_old_id",
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        )
    )


_Q90_SQL = r"""
WITH old AS (
  SELECT doc_id AS id, list_distinct(regexp_extract_all(text, '\w+')) AS toks
  FROM documents
),
newd AS (
  SELECT doc_id + 3000000 AS id, substring(text, 11) AS text
  FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 4 = 1
  UNION ALL
  SELECT doc_id + 5000000, substring(text, 1, 40)
  FROM documents WHERE doc_id % 4 = 2
),
newt AS (
  SELECT id, list_distinct(regexp_extract_all(text, '\w+')) AS toks FROM newd
),
m AS (
  SELECT n.id AS new_id, min(o.id) AS matched_old_id,
         count(*)::BIGINT AS n_matches
  FROM newt n JOIN old o
    ON 5 * len(list_intersect(n.toks, o.toks))
       >= 4 * (len(n.toks) + len(o.toks) - len(list_intersect(n.toks, o.toks)))
  GROUP BY n.id
)
SELECT n.id AS new_id,
       CASE WHEN m.new_id IS NULL THEN 'keep' ELSE 'drop' END AS verdict,
       m.matched_old_id,
       coalesce(m.n_matches, 0)::BIGINT AS n_matches
FROM newt n LEFT JOIN m ON n.id = m.new_id
"""


def q91_fuzzy_editdist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absolute-edit-distance fuzzy-match join (ed <= 8) — the
    transcript-variant / OCR-noise matcher, and the scale shape q02's
    length-bucket plan cannot reach: candidates come from the Ed-Join
    prefix filter (operators/simjoin.prefix_filter_editdist_join, Xiao et
    al. 2008 re-expressed relationally) — occurrence-numbered trigrams,
    rarest q*d+1 per doc, equi-join on prefix tokens — which is
    candidate-COMPLETE (multiset q-gram count bound; short docs routed
    through a broadcast pool), so the exact SQL join is the oracle with no
    probabilistic caveat.  Verify is the JVM banded Levenshtein built-in
    (O(d*n), early abandon).  Small absolute radii are where q-gram
    prefixes are selective (25 occurrence-tokens per doc regardless of
    length) — at 100 TB the prefix posting lists stay rare-token-only
    while q02's within-bucket quadratic would not.

    Corpus plants re-keyed variants (restated by the oracle): %6==0 loses
    its first 3 chars (ed 3), %9==0 its last 5 (ed 5); a doc in both
    strata yields a variant-vs-variant pair at exactly ed 8 — the band
    boundary."""
    from text_similarity_node_spark.operators.simjoin import (
        prefix_filter_editdist_join,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    corpus = (
        docs.select("doc_id", "lang", "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 6 == 0).select(
                (F.col("doc_id") + 6_000_000).alias("doc_id"),
                "lang",
                F.expr("substring(text, 4)").alias("text"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 9 == 0).select(
                (F.col("doc_id") + 7_000_000).alias("doc_id"),
                "lang",
                F.expr("substring(text, 1, length(text) - 5)").alias("text"),
            )
        )
    )
    pairs = prefix_filter_editdist_join(
        corpus, "doc_id", "text", max_dist=8, group_cols=["lang"]
    )
    return pairs.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        F.col("dist").cast("long").alias("dist"),
    )


_Q91_SQL = r"""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 6000000, lang, substring(text, 4)
  FROM documents WHERE doc_id % 6 = 0
  UNION ALL
  SELECT doc_id + 7000000, lang, substring(text, 1, length(text) - 5)
  FROM documents WHERE doc_id % 9 = 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       levenshtein(a.text, b.text)::BIGINT AS dist
FROM corpus a JOIN corpus b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(length(a.text) - length(b.text)) <= 8
WHERE levenshtein(a.text, b.text) <= 8
"""


def q92_minhash_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-contract audit — the q64/q77 sketch-certification
    pattern applied to the signature estimator every probabilistic tier
    leans on (the S-curve algebra, the prefilter bound in
    minhash.prefilter_candidates, the b-bit compression in q84): over a
    deterministic pair panel spanning the J range (consecutive-id pairs at
    organic low J, planted near-dups, byte-identical copies at J=1), the
    slot-agreement estimate agree/k must sit within eps of the EXACT set
    Jaccard on every pair.  k=1024 audit signatures put sd(agreement) <=
    0.0156, so eps=0.09 is a 5.8-sigma contract (per-pair miss ~8e-9;
    seeded hashes make the realized outcome a fixed fact).  The violation
    predicate is pure integer cross-multiplication — 1e6*|agree*U - k*I| >
    eps_micro*k*U — so there is no float at the boundary; the oracle
    restates the panel size and asserts zero violations.  A red hash here
    means the hash family itself drifted (seed/mixer change), the one
    failure the recall audits (q31/q35/q76) would only catch indirectly."""
    from text_similarity_node_spark.operators import minhash

    k, seed, eps_micro = 1024, 42, 90_000
    corp = _dedup_corpus(spark, sf_dir)
    sig = (
        corp.select(
            "doc_id",
            F.array_distinct(C.char_ngrams(F.col("text"), 3)).alias("toks"),
        )
        .withColumn("sig", minhash.minhash_signature_udf(k, seed)(F.col("toks")))
        .persist()
    )
    d = _load(spark, sf_dir, "documents").select("doc_id")
    consec = (
        d.alias("a")
        .join(d.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
    )
    exact = d.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("id1"), (F.col("doc_id") + 1_000_000).alias("id2")
    )
    near = d.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id1"), (F.col("doc_id") + 2_000_000).alias("id2")
    )
    pairs = consec.unionByName(exact).unionByName(near)
    s1 = sig.select(
        F.col("doc_id").alias("id1"), F.col("toks").alias("t1"), F.col("sig").alias("g1")
    )
    s2 = sig.select(
        F.col("doc_id").alias("id2"), F.col("toks").alias("t2"), F.col("sig").alias("g2")
    )
    j = pairs.join(s1, "id1").join(s2, "id2")
    inter = F.size(F.array_intersect("t1", "t2")).cast("long")
    uni = F.size("t1").cast("long") + F.size("t2").cast("long") - inter
    agree = F.size(
        F.filter(F.zip_with(F.col("g1"), F.col("g2"), lambda a, b: a == b), lambda x: x)
    ).cast("long")
    viol = (F.lit(1_000_000).cast("long") * F.abs(agree * uni - F.lit(k) * inter)) > (
        F.lit(eps_micro).cast("long") * F.lit(k) * uni
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.lit(k).cast("long").alias("k"),
        F.lit(eps_micro).cast("long").alias("eps_micro"),
        F.sum(viol.cast("long")).alias("n_violations"),
    )


_Q92_SQL = """
SELECT ((SELECT count(*) FROM documents a JOIN documents b
           ON b.doc_id = a.doc_id + 1)
        + (SELECT count(*) FROM documents WHERE doc_id % 5 = 0)
        + (SELECT count(*) FROM documents WHERE doc_id % 7 = 0))::BIGINT
         AS n_pairs,
       1024::BIGINT AS k,
       90000::BIGINT AS eps_micro,
       0::BIGINT AS n_violations
"""


def q93_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-tuning report — the sweep a pipeline runs BEFORE
    committing a near-dup threshold at 100 TB: pair counts at every
    candidate threshold from ONE exact candidate pass.  Candidates come
    from the prefix-filter join at the LOWEST threshold in the sweep
    (recall 1.0 by construction — every higher threshold's pair set is a
    subset), token arrays join back once, and the per-threshold counts are
    conditional sums over exact integer cross-multiplications
    (I*100 >= pct*U), so no float touches a boundary and the brute-force
    SQL oracle matches bit-for-bit.  At scale this replaces six
    candidate-generation passes with one — the sweep cost is one extra
    column scan over the verified pair set."""
    from text_similarity_node_spark.operators.simjoin import (
        prefix_filter_jaccard_join,
    )

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", "lang", C.word_tokens(F.col("text")).alias("toks")
    )
    pairs = prefix_filter_jaccard_join(
        docs, "doc_id", "toks", threshold=0.7, group_cols=["lang"]
    )
    toks = docs.select(
        "doc_id", F.array_distinct(F.col("toks")).alias("dtoks")
    )
    t1 = toks.select(F.col("doc_id").alias("id1"), F.col("dtoks").alias("t1"))
    t2 = toks.select(F.col("doc_id").alias("id2"), F.col("dtoks").alias("t2"))
    iu = (
        pairs.join(t1, "id1")
        .join(t2, "id2")
        .select(
            F.size(F.array_intersect("t1", "t2")).cast("long").alias("i"),
            (
                F.size("t1").cast("long")
                + F.size("t2").cast("long")
                - F.size(F.array_intersect("t1", "t2")).cast("long")
            ).alias("u"),
        )
    )
    aggs = [
        F.coalesce(
            F.sum((F.col("i") * 100 >= F.lit(pct) * F.col("u")).cast("long")),
            F.lit(0).cast("long"),
        ).alias(f"n_ge_{pct}")
        for pct in (70, 75, 80, 85, 90, 95)
    ]
    return iu.agg(*aggs)


_Q93_SQL = r"""
WITH t AS (
  SELECT doc_id, lang, list_distinct(regexp_extract_all(text, '\w+')) AS toks
  FROM documents
),
p AS (
  SELECT len(list_intersect(a.toks, b.toks))::BIGINT AS i,
         (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))::BIGINT AS u
  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
SELECT coalesce(sum(CASE WHEN i * 100 >= 70 * u THEN 1 ELSE 0 END), 0)::BIGINT AS n_ge_70,
       coalesce(sum(CASE WHEN i * 100 >= 75 * u THEN 1 ELSE 0 END), 0)::BIGINT AS n_ge_75,
       coalesce(sum(CASE WHEN i * 100 >= 80 * u THEN 1 ELSE 0 END), 0)::BIGINT AS n_ge_80,
       coalesce(sum(CASE WHEN i * 100 >= 85 * u THEN 1 ELSE 0 END), 0)::BIGINT AS n_ge_85,
       coalesce(sum(CASE WHEN i * 100 >= 90 * u THEN 1 ELSE 0 END), 0)::BIGINT AS n_ge_90,
       coalesce(sum(CASE WHEN i * 100 >= 95 * u THEN 1 ELSE 0 END), 0)::BIGINT AS n_ge_95
FROM p
"""


def q94_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-clustering quality report — the audit a pipeline publishes
    after connected components, because CC can CHAIN: a->b and b->c edges
    merge a and c into one cluster even when sim(a, c) is far below
    threshold, and a keep-one-per-cluster policy then silently discards
    non-duplicates.  Per dup cluster (exact word-Jaccard >= 0.9 edges,
    same-lang, CC min-label assignment): member count, verified edge
    count, the weakest edge in exact integer micro (the chain indicator —
    a low min-edge in a large cluster is transitive drift), and whether
    the cluster is a clique (2*edges == size*(size-1); cliques cannot have
    chained in anything).  Everything is relational: the exact prefix-
    filter join supplies edges (recall 1.0), CC runs min-label
    propagation, and the DuckDB oracle re-derives clusters with a
    recursive reachability CTE — so the iterative distributed CC is
    checked end-to-end, not just its fixpoint shape."""
    from text_similarity_node_spark.operators.components import connected_components
    from text_similarity_node_spark.operators.simjoin import (
        prefix_filter_jaccard_join,
    )

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", "lang", C.word_tokens(F.col("text")).alias("toks")
    )
    pairs = prefix_filter_jaccard_join(
        docs, "doc_id", "toks", threshold=0.9, group_cols=["lang"]
    )
    toks = docs.select("doc_id", F.array_distinct("toks").alias("dtoks"))
    t1 = toks.select(F.col("doc_id").alias("id1"), F.col("dtoks").alias("t1"))
    t2 = toks.select(F.col("doc_id").alias("id2"), F.col("dtoks").alias("t2"))
    edges = (
        pairs.join(t1, "id1")
        .join(t2, "id2")
        .select(
            "id1",
            "id2",
            F.expr(
                "(1000000 * cast(size(array_intersect(t1, t2)) as bigint))"
                " div (cast(size(t1) as bigint) + cast(size(t2) as bigint)"
                "      - cast(size(array_intersect(t1, t2)) as bigint))"
            ).alias("j_micro"),
        )
        .persist()
    )
    cc = connected_components(edges.select("id1", "id2"))
    members = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    e_assign = edges.join(
        cc.select(F.col("clip_id").alias("id1"), "cluster_id"), "id1"
    )
    e_stats = e_assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.min("j_micro").alias("min_edge_j_micro"),
    )
    return members.join(e_stats, "cluster_id").select(
        "cluster_id",
        F.col("size").cast("long").alias("size"),
        F.col("n_edges").cast("long").alias("n_edges"),
        "min_edge_j_micro",
        (F.col("n_edges") * 2 == F.col("size") * (F.col("size") - 1))
        .cast("int")
        .alias("is_clique"),
    )


_Q94_SQL = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, lang, list_distinct(regexp_extract_all(text, '\w+')) AS toks
  FROM documents
),
edges AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2,
         ((1000000 * len(list_intersect(a.toks, b.toks))::BIGINT)
          // (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))::BIGINT)
           AS j_micro
  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
),
sym AS (SELECT id1 AS a, id2 AS b FROM edges
        UNION SELECT id2, id1 FROM edges),
reach AS (
  SELECT a, a AS b FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
clus AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
members AS (SELECT cluster_id, count(*)::BIGINT AS size FROM clus GROUP BY cluster_id),
estats AS (
  SELECT c.cluster_id, count(*)::BIGINT AS n_edges,
         min(e.j_micro) AS min_edge_j_micro
  FROM edges e JOIN clus c ON c.doc_id = e.id1
  GROUP BY c.cluster_id
)
SELECT m.cluster_id, m.size, s.n_edges, s.min_edge_j_micro,
       (CASE WHEN s.n_edges * 2 = m.size * (m.size - 1) THEN 1 ELSE 0 END)::INT
         AS is_clique
FROM members m JOIN estats s ON m.cluster_id = s.cluster_id
"""


def q95_suffix_array_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed suffix array (operators/suffix_array.py — Manber-Myers
    prefix doubling as DataFrame ops): exact doc pairs sharing any 40-
    codepoint substring.  The north rule's literal "suffix-array substring
    pass": O(log L) range-exchange doublings build corpus-wide suffix
    ranks (no global-order window anywhere — scalable two-pass dense
    rank), one fixed-length refinement keys every full 40-char window by
    two overlapping depth-d ranks, and equal key <=> equal 40-gram, so
    recall and precision are 1.0 by construction.  Unlike the winnowing
    pass (q18, sampled fingerprints with a guarantee window) or span
    dedup (q88, fixed token width), the threshold here is an exact
    codepoint length with no tuning window.  Corpus: documents plus the
    first-60-char slice of every doc_id % 7 == 0 doc at doc_id+6_000_000
    — each plant shares its 21 full windows with its source; organic
    exact-dup texts pair too.  The DuckDB oracle restates the pass as a
    40-gram self-join, which the suffix-array construction must agree
    with exactly."""
    from text_similarity_node_spark.operators.suffix_array import (
        repeated_substring_pairs,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 6_000_000).alias("doc_id"),
        F.substring("text", 1, 60).alias("text"),
    )
    corpus = docs.unionByName(copies)
    pairs, _metrics, _info = repeated_substring_pairs(
        corpus, "doc_id", "text", min_len=40
    )
    return pairs.orderBy("doc_id_1", "doc_id_2")


_Q95_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 6000000, substr(text, 1, 60) FROM documents
  WHERE doc_id % 7 = 0
),
grams AS (
  SELECT DISTINCT doc_id, substr(text, i, 40) AS g
  FROM corpus,
       LATERAL (SELECT unnest(generate_series(1, len(text) - 39)) AS i)
  WHERE len(text) >= 40
)
SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q96_snippet_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-snippet audio retrieval with OFFSET recovery
    (operators/audio_fp.py:snippet_containment, Wang 2003 offset-
    histogram voting) — the capability the pairwise fingerprint family
    (q32 content, q51 shift, q52 rate, q71 gain) doesn't cover: given a
    short excerpt, find WHICH catalog clip contains it and WHERE.  The
    audio analogue of the exact-substring text tier (q88/q95), localized
    instead of pairwise.

    Corpus: deterministic 8-segment "tracks" (segment s of track c plays
    200 + c*8 + s Hz — globally unique per (track, segment); doc_id <
    800 keeps every frequency under Nyquist and unique) plus byte-exact
    3-segment snippets at doc_id + 1_000_000 for doc_id % 4 == 0, cut at
    segment offset doc_id % 6.  The oracle is the planted truth from id
    arithmetic; Spark must recover parent AND offset from the waveforms
    alone.  Exactness: unique frequencies mean a snippet shares landmark
    hashes ONLY with its parent, and the hop-aligned slice (segment =
    8192 samples = 4 hops) makes snippet frame k sample-identical to
    parent frame k + 4*offset, so the vote histogram's strict argmax
    sits at the true offset — segment-transition hashes occur at exactly
    one anchor frame each, so no other dt can tie."""
    from text_similarity_node_spark.operators.audio import (
        synth_track_pcm_udf,
    )
    from text_similarity_node_spark.operators.audio_fp import (
        snippet_containment,
    )

    base = (
        _load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 800)
    )
    snips = base.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    synth = synth_track_pcm_udf()

    def _mat(df: DataFrame) -> DataFrame:
        # spread the collapsed id scan before synthesizing 128 KB/track
        # payloads (same rationale as q50/q51)
        return (
            df.repartition(spark.sparkContext.defaultParallelism, "doc_id")
            .withColumn("bytes", synth(F.col("doc_id")))
            .withColumn("sr_hz", F.lit(16000))
        )

    best = snippet_containment(
        _mat(snips),
        _mat(base),
        id_col="doc_id",
        bytes_col="bytes",
        min_votes=4,
        frame_len=4096,
        hop=2048,
        peaks_per_frame=1,
        fanout=2,
        freq_quant_hz=1.0,
    )
    return best.select(
        "snippet_id",
        "clip_id",
        (F.col("offset_frames") / 4).cast("int").alias("offset_seg"),
    )


_Q96_SQL = """
SELECT doc_id + 1000000 AS snippet_id,
       doc_id AS clip_id,
       (doc_id % 6)::INT AS offset_seg
FROM documents
WHERE doc_id % 4 = 0 AND doc_id < 800
"""


def q97_quality_keep_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted keep policy over near-dup clusters — "keep the
    BEST member, not the first" (the curation rule quality-ranked
    pipelines apply where min-id canonicalization would throw away the
    cleanest copy).  Clusters are q94's: exact word-Jaccard >= 0.9
    same-lang edges from the prefix-filter join, connected components.
    Near-dup members differ slightly in text, so a content quality
    metric breaks the tie meaningfully: the keeper is the member with
    the largest alpha-character mass (an exact BIGINT — no float enters
    the comparison), ties broken by doc_id.  Output: one row per cluster
    member (doc_id, cluster_id, keeper_id, keep); the DuckDB oracle
    re-derives the clusters with the recursive reachability CTE and the
    keeper with the same deterministic window, so the whole policy —
    candidate join, iterative CC, and argmax — is hash-checked
    end-to-end."""
    from pyspark.sql import Window

    from text_similarity_node_spark.operators.components import (
        connected_components,
    )
    from text_similarity_node_spark.operators.simjoin import (
        prefix_filter_jaccard_join,
    )

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", "lang", C.word_tokens(F.col("text")).alias("toks"),
        F.length(
            F.regexp_replace(F.col("text"), r"[^A-Za-z]", "")
        ).cast("long").alias("alpha"),
    )
    pairs = prefix_filter_jaccard_join(
        docs, "doc_id", "toks", threshold=0.9, group_cols=["lang"]
    )
    cc = connected_components(pairs.select("id1", "id2"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("alpha").desc(), F.col("doc_id")
    )
    assigned = cc.select(F.col("clip_id").alias("doc_id"), "cluster_id").join(
        docs.select("doc_id", "alpha"), "doc_id"
    )
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.first("doc_id").over(w).alias("keeper_id"),
    ).withColumn(
        "keep", (F.col("doc_id") == F.col("keeper_id")).cast("int")
    )


_Q97_SQL = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, lang, list_distinct(regexp_extract_all(text, '\w+')) AS toks
  FROM documents
),
edges AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
),
sym AS (SELECT id1 AS a, id2 AS b FROM edges
        UNION SELECT id2, id1 FROM edges),
reach AS (
  SELECT a, a AS b FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
clus AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
qual AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT AS alpha
  FROM documents
)
SELECT c.doc_id, c.cluster_id,
       first_value(c.doc_id) OVER (
         PARTITION BY c.cluster_id ORDER BY q.alpha DESC, c.doc_id
       ) AS keeper_id,
       (c.doc_id = first_value(c.doc_id) OVER (
         PARTITION BY c.cluster_id ORDER BY q.alpha DESC, c.doc_id
       ))::INT AS keep
FROM clus c JOIN qual q USING (doc_id)
"""


def q98_audio_duration_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted audio dedup savings — the headline number a
    speech-corpus curation team reads: how many clips and how many
    MILLISECONDS OF AUDIO the near-dup pass removes vs keeps.  Unlike
    q83 (token/char mass over text), the mass here is derived from the
    PAYLOAD ITSELF (`length(bytes)/32` ms at 16 kHz pcm_s16le), never
    from trusted metadata — mis-labeled durations are exactly what a
    real pipeline must not bill by.  Corpus: q32's planted family with
    VARIABLE durations (12000 + (id%400)*16 samples, so copies share
    their source's exact length); the spectral-landmark pass recovers
    the mod-400 recording identity from the waveforms (recall/precision
    1.0 on this family, q32), CC assigns min-id clusters, keeper = the
    cluster label itself, and the 2-row rollup sums exact integer ms per
    tier (0 kept / 2 near-dup removed).  Scale: the BLOB is consumed
    where produced (landmark UDF + one length()), only 8-byte ids and
    hashes shuffle; the rollup is a map-side-combinable 2-row
    aggregate."""
    from text_similarity_node_spark.operators.audio import (
        synth_sine_vardur_pcm_udf,
    )
    from text_similarity_node_spark.operators.audio_fp import (
        audio_fingerprint_pairs,
    )
    from text_similarity_node_spark.operators.components import (
        connected_components,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    synth = synth_sine_vardur_pcm_udf()
    corpus = (
        base.unionByName(copies)
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    durs = corpus.select(
        "doc_id", (F.length("bytes") / 32).cast("long").alias("dur_ms")
    )
    pairs = audio_fingerprint_pairs(
        corpus,
        "doc_id",
        "bytes",
        min_matches=2,
        frame_len=4096,
        hop=2048,
        peaks_per_frame=1,
        fanout=2,
        freq_quant_hz=1.0,
    )
    cc = connected_components(pairs.select("id1", "id2"))
    assigned = durs.join(
        cc.select(F.col("clip_id").alias("doc_id"), "cluster_id"),
        "doc_id",
        "left",
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    return (
        assigned.withColumn(
            "tier",
            F.when(F.col("doc_id") == F.col("cluster_id"), 0)
            .otherwise(2)
            .cast("int"),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("dur_ms").alias("total_ms"),
        )
        .orderBy("tier")
    )


_Q98_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 6 = 0
),
cl AS (
  SELECT doc_id,
         (750 + doc_id % 400)::BIGINT AS dur_ms,
         min(doc_id) OVER (PARTITION BY doc_id % 400) AS keeper
  FROM corpus
)
SELECT (CASE WHEN doc_id = keeper THEN 0 ELSE 2 END)::INT AS tier,
       count(*)::BIGINT AS n_clips,
       sum(dur_ms)::BIGINT AS total_ms
FROM cl GROUP BY 1 ORDER BY tier
"""


def q99_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter (Gopher-family quality gate, Rae
    et al. 2021 §A1.1): per doc, the fraction of word-5-gram occurrences
    that are duplicates and the occurrence share of the most frequent
    word-2-gram, both in exact integer-micro; `repetitive` fires at the
    Gopher-style thresholds (dup-5-gram ≥ 0.15 OR top-2-gram ≥ 0.18 —
    occurrence-fraction simplification of the paper's char-fraction
    variant, documented).  Self-repeating documents (lyrics loops,
    scraper stutter, template spam) slip past CORPUS-level dedup because
    they duplicate nobody but themselves — this is the per-doc gate that
    catches them before training.

    vs q43_repetition_stats: q43 reports the duplicate-WORD fraction and
    routes its top-bigram through an exploded (doc_id, bigram) groupBy —
    one shuffle.  q99 is the scale-shaped registration of the family
    (the q04-vs-q37 pattern): longer grams (5-gram stutter, which
    duplicate-word fraction cannot see — word-soup text has high word
    reuse but no phrase reuse), and NO exchange at all — the mode count
    comes from a max-run fold over the row's own sorted gram array.

    Corpus: doc_id % 7 == 0 docs get their first 40 chars appended 6
    times (the stutter plant, restated verbatim by the oracle); at
    sf0.01 all 72 planted docs flag and none of the 428 others do.

    Scale: ZERO exchanges — both metrics are computed inside one
    projection over the scan.  5-gram duplication is
    `size(g) - size(array_distinct(g))` on the per-row gram array; the
    top-2-gram count is a max-run-length fold over the row's SORTED gram
    array via `aggregate` (no explode, no groupBy — the corpus-wide
    gram space never materializes).  All expressions are JVM
    whole-stage-codegen; per-row work is O(len·log len) in the doc's own
    word count, so executors stream partitions at scan speed and the
    plan is embarrassingly parallel at any corpus size."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    derived = docs.select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id % 7 = 0 THEN concat(text, "
            "repeat(concat(' ', substring(text, 1, 40)), 6)) "
            "ELSE text END"
        ).alias("text"),
    )
    base = (
        derived.select(
            "doc_id",
            F.expr(r"regexp_extract_all(text, '\\w+', 0)").alias("words"),
        )
        .withColumn("n_words", F.size("words").cast("long"))
        .filter(F.col("n_words") >= 5)
    )
    g = base.select(
        "doc_id",
        "n_words",
        F.expr(
            "transform(sequence(1, cast(n_words as int) - 4), "
            "i -> concat_ws(' ', slice(words, i, 5)))"
        ).alias("g5"),
        F.expr(
            "sort_array(transform(sequence(1, cast(n_words as int) - 1), "
            "i -> concat_ws(' ', slice(words, i, 2))))"
        ).alias("g2s"),
    )
    return (
        g.select(
            "doc_id",
            "n_words",
            F.expr(
                "((size(g5) - size(array_distinct(g5))) * 1000000L) div size(g5)"
            ).alias("dup5_frac_micro"),
            # max run length over the sorted 2-gram array == the mode's
            # occurrence count — a pure fold, no per-doc hash map
            F.expr(
                "aggregate(g2s, "
                "named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L), "
                "(acc, x) -> named_struct("
                "  'prev', x, "
                "  'run', if(x <=> acc.prev, acc.run + 1L, 1L), "
                "  'best', greatest(acc.best, if(x <=> acc.prev, acc.run + 1L, 1L))), "
                "acc -> acc.best)"
            ).alias("top2_count"),
        )
        .select(
            "doc_id",
            "n_words",
            "dup5_frac_micro",
            "top2_count",
            F.expr("(top2_count * 1000000L) div (n_words - 1)").alias(
                "top2_frac_micro"
            ),
        )
        .select(
            "*",
            F.expr(
                "dup5_frac_micro >= 150000 OR top2_frac_micro >= 180000"
            ).alias("repetitive"),
        )
    )


_Q99_SQL = r"""
WITH derived AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN concat(text, repeat(concat(' ', substring(text, 1, 40)), 6))
              ELSE text END AS text
  FROM documents
), base AS (
  SELECT doc_id,
         regexp_extract_all(text, '\w+') AS words,
         len(regexp_extract_all(text, '\w+'))::BIGINT AS n_words
  FROM derived
  WHERE len(regexp_extract_all(text, '\w+')) >= 5
), g5t AS (
  SELECT doc_id, n_words,
         list_transform(range(1, n_words::INT - 3),
                        i -> array_to_string(words[i:i+4], ' ')) AS g5
  FROM base
), dup AS (
  SELECT doc_id, n_words,
         ((len(g5) - len(list_distinct(g5)))::BIGINT * 1000000
           // len(g5)::BIGINT)::BIGINT AS dup5_frac_micro
  FROM g5t
), g2 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, n_words::INT),
                i -> array_to_string(words[i:i+1], ' '))) AS gram
  FROM base
), top2 AS (
  SELECT doc_id, max(c)::BIGINT AS top2_count FROM (
    SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram
  ) GROUP BY doc_id
)
SELECT d.doc_id, d.n_words, d.dup5_frac_micro, t.top2_count,
       (t.top2_count * 1000000 // (d.n_words - 1))::BIGINT AS top2_frac_micro,
       (d.dup5_frac_micro >= 150000 OR
        (t.top2_count * 1000000 // (d.n_words - 1)) >= 180000) AS repetitive
FROM dup d JOIN top2 t USING (doc_id)
"""


def q100_wer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level WER (word error rate) audit — THE speech-pipeline
    regression metric: when a new ASR version re-transcribes the corpus,
    per-clip WER against the previous transcript decides which clips'
    labels actually changed (re-review) vs drifted cosmetically (keep).
    The reference's Levenshtein (kernel #0, edit_based.cpp) is
    codepoint-level; WER needs it at WORD level.  Rather than a Python
    DP over token arrays, each pair dictionary-encodes its own union
    vocabulary to single codepoints (vocab here is 31 words, far under
    the 190-symbol ASCII-safe bound asserted below) — then Spark's JVM
    `levenshtein` built-in IS token-level edit distance, whole-stage
    codegen, and DuckDB's editdist3 restates it exactly.

    Corpus: v2 re-transcription derived from v1 (the doc text) with two
    planted regimes — doc_id % 3 == 0 gets heavy drift (every 9th word
    dropped, every 7th surviving word substituted, ~24% WER), the rest
    light drift (every 25th word substituted, ~4%).  `high_wer` fires
    at 0.20: at sf0.01 exactly the 167 heavy-regime docs flag.

    Scale: zero exchanges — encode + levenshtein is one projection over
    the scan (map-only, embarrassingly parallel); per-row cost is
    O(n*m) in the clip's OWN transcript length, the same contract the
    reference documents for its kernel.  The banded variant
    (columns.levenshtein_similarity_banded) is the drop-in if a
    threshold bound is known a priori."""
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.select(
            "doc_id", F.expr(r"regexp_extract_all(text, '\\w+', 0)").alias("v1")
        )
        .filter(F.size("v1") >= 9)
        # heavy: delete every 9th word, substitute every 7th survivor;
        # light: substitute every 25th word (Spark lambda index is
        # 0-based; the oracle's DuckDB lambdas are 1-based — both spell
        # "1-based position p with p % k == 0")
        .withColumn(
            "v2",
            F.expr(
                "CASE WHEN doc_id % 3 = 0 THEN "
                "transform(filter(v1, (x, i) -> (i + 1) % 9 != 0), "
                "          (x, i) -> if((i + 1) % 7 = 0, concat('zz', x), x)) "
                "ELSE transform(v1, (x, i) -> if((i + 1) % 25 = 0, concat('zz', x), x)) "
                "END"
            ),
        )
        .withColumn("vocab", F.expr("array_distinct(concat(v1, v2))"))
        # char(64 + pos) stays printable-ASCII while |vocab| <= 190; the
        # guard lives INSIDE the evaluated expression (a free-standing
        # assert column would be pruned by Catalyst and never run) so a
        # future corpus can't silently wrap at char(256)
        .withColumn(
            "e1",
            F.expr(
                "if(size(vocab) <= 190, "
                "concat_ws('', transform(v1, x -> char(64 + array_position(vocab, x)))), "
                "raise_error('q100: pair vocabulary exceeds single-codepoint encoding bound'))"
            ),
        )
        .withColumn(
            "e2",
            F.expr("concat_ws('', transform(v2, x -> char(64 + array_position(vocab, x))))"),
        )
        .select(
            "doc_id",
            F.size("v1").cast("long").alias("n_ref_words"),
            F.expr("cast(levenshtein(e1, e2) as bigint)").alias("word_edits"),
        )
        .select("*", F.expr("(word_edits * 1000000L) div n_ref_words").alias("wer_micro"))
        .select("*", F.expr("wer_micro >= 200000").alias("high_wer"))
    )


_Q100_SQL = r"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(text, '\w+') AS v1
  FROM documents WHERE len(regexp_extract_all(text, '\w+')) >= 9
), corr AS (
  SELECT doc_id, v1,
         CASE WHEN doc_id % 3 = 0 THEN
           list_transform(list_filter(v1, (x, i) -> i % 9 != 0),
                          (x, i) -> CASE WHEN i % 7 = 0 THEN 'zz' || x ELSE x END)
         ELSE
           list_transform(v1, (x, i) -> CASE WHEN i % 25 = 0 THEN 'zz' || x ELSE x END)
         END AS v2
  FROM base
), enc AS (
  SELECT doc_id, v1, v2, list_distinct(list_concat(v1, v2)) AS vocab FROM corr
), s AS (
  SELECT doc_id,
         len(v1)::BIGINT AS n_ref_words,
         array_to_string(list_transform(v1, x -> chr(64 + list_position(vocab, x))), '') AS e1,
         array_to_string(list_transform(v2, x -> chr(64 + list_position(vocab, x))), '') AS e2
  FROM enc
)
SELECT doc_id, n_ref_words, editdist3(e1, e2)::BIGINT AS word_edits,
       (editdist3(e1, e2)::BIGINT * 1000000 // n_ref_words)::BIGINT AS wer_micro,
       (editdist3(e1, e2)::BIGINT * 1000000 // n_ref_words) >= 200000 AS high_wer
FROM s
"""


def q101_audio_stretch_profile_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-STRETCH robustness tier of the audio-dedup family — the
    corruption q51 (shift), q52 (resample), and q71 (gain) do NOT cover:
    playback-speed/pitch change moves every landmark (f1, f2, dt)
    component by the stretch factor and breaks the constellation hash
    exactly, so this tier matches on the |rFFT| band-energy PROFILE
    instead (operators/audio_fp.spectral_profile_udf: phase- and
    shift-invariant by construction; log-spaced bands of ~5.9%
    half-width absorb the +-3% stretch).  Candidates come from the
    deterministic dominant-band signature join (top-2 band set as the
    equi-join key, hot keys metered — audio_profile_pairs), precision
    from the exact full-profile cosine (reference kernel #9 semantics,
    /root/reference/src/algorithms/vector_based.cpp:86-123).

    Corpus: one deterministic two-tone 1-s clip per doc, class =
    doc_id % 250, tones at the geometric centers of log-bands
    (c % 16, 16 + c // 16) — distinct classes share at most one band
    (max inter-class cosine 0.516 measured, vs worst intra-class
    0.9996).  doc_id % 6 == 0 gains a copy at doc_id + 1_000_000:
    same recording at stretch 1 + k% (k in [-3, 3] keyed by id) with
    seeded ~41 dB noise and a phase offset.  250 divides 1_000_000, so
    two clips are the same recording iff doc_id % 250 agree — the
    brute-force SQL oracle; the Spark side must recover exactly those
    pairs from the waveforms alone (recall and precision 1.0)."""
    from text_similarity_node_spark.operators.audio import synth_stretch_pcm_udf
    from text_similarity_node_spark.operators.audio_fp import audio_profile_pairs

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    synth = synth_stretch_pcm_udf()
    corpus = (
        base.unionByName(copies)
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    pairs = audio_profile_pairs(corpus, "doc_id", "bytes")
    return pairs.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q101_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 6 = 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
FROM corpus a JOIN corpus b
  ON a.doc_id < b.doc_id AND a.doc_id % 250 = b.doc_id % 250
"""


def q102_crossmodal_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal edge DIFF (operators/dedup.crossmodal_disagreement) —
    the decision q39's edge UNION flattens: audio-dup + transcript-equal
    = full_dup (collapse); audio-dup + transcripts differ =
    transcript_conflict (same recording re-transcribed — keep one clip,
    arbitrate the transcript); transcript-equal + different recording =
    re_read (legitimate independent performance — deduping on text alone
    would destroy it).  Transcript identity is EXACT equality — the
    input_hint's own per-row invariant.

    Corpus (all identity derivable by congruence, all content synthesized
    from it): base docs carry audio class ``doc_id % 200`` (1-s sine, the
    q32 family) and transcript T(c) = 24 class-keyed words.  Plants:
    doc_id % 5 == 0 -> a re-transcription at +1_000_000 (same recording,
    seeded ~34 dB jitter, transcript corrupted with per-id-unique tokens
    at every (k + id) % 4 == 0 position — never equal to anything);
    doc_id % 7 == 0 -> a re-read at +2_000_000 (transcript exactly T(c),
    NEW recording: audio class 200 + c, a range bases never use);
    doc_id % 11 == 0 -> a full dup at +3_000_000 (same recording
    re-jittered, transcript exactly T(c)).  The Spark side recovers the
    verdicts from waveforms + strings alone; the oracle restates the
    congruences.  Audio exactness inherits q32's proof (1-Hz-quantized
    parabolic peaks through the jitter)."""
    from text_similarity_node_spark.operators.audio import synth_sine1s_pcm_udf
    from text_similarity_node_spark.operators.dedup import crossmodal_disagreement

    base_ids = _load(spark, sf_dir, "documents").select("doc_id")

    def t_clean(c):
        return F.expr(
            f"concat_ws(' ', transform(sequence(0, 23), k -> concat('w', {c} % 200, 'x', k)))"
        )

    base = base_ids.select(
        F.col("doc_id"),
        (F.col("doc_id") % 200).alias("synth_key"),
        t_clean("doc_id").alias("transcript"),
    )
    retrans = base_ids.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        (F.lit(1_000_000) + F.col("doc_id") % 200 + 400 * (F.col("doc_id") % 997)).alias(
            "synth_key"
        ),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 23), k -> "
            "if((k + doc_id) % 4 = 0, concat('zz', doc_id + 1000000, 'x', k), "
            "concat('w', doc_id % 200, 'x', k))))"
        ).alias("transcript"),
    )
    reread = base_ids.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        (F.lit(200) + F.col("doc_id") % 200).alias("synth_key"),
        t_clean("doc_id").alias("transcript"),
    )
    fulldup = base_ids.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        (
            F.lit(1_000_000) + F.col("doc_id") % 200 + 400 * ((F.col("doc_id") + 13) % 997)
        ).alias("synth_key"),
        t_clean("doc_id").alias("transcript"),
    )
    synth = synth_sine1s_pcm_udf()
    corpus = (
        base.unionByName(retrans).unionByName(reread).unionByName(fulldup)
        .withColumn("bytes", synth(F.col("synth_key")))
        .withColumn("sr_hz", F.lit(16000))
        .drop("synth_key")
    )
    out = crossmodal_disagreement(
        corpus, id_col="doc_id", text_col="transcript",
        bytes_col="bytes", sr_col="sr_hz",
        min_matches=2, frame_len=4096, hop=2048, peaks_per_frame=1,
        fanout=2, freq_quant_hz=1.0,
    )
    return out.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2"),
        "audio_dup", "text_dup", "verdict",
    )


_Q102_SQL = """
WITH corpus AS (
  SELECT doc_id AS id, doc_id % 200 AS acls, doc_id % 200 AS tkey
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000, doc_id % 200, doc_id + 10000000
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000, doc_id % 200 + 200, doc_id % 200
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 3000000, doc_id % 200, doc_id % 200
  FROM documents WHERE doc_id % 11 = 0
)
SELECT a.id AS doc_id1, b.id AS doc_id2,
       (a.acls = b.acls) AS audio_dup,
       (a.tkey = b.tkey) AS text_dup,
       CASE WHEN a.acls = b.acls AND a.tkey = b.tkey THEN 'full_dup'
            WHEN a.acls = b.acls THEN 'transcript_conflict'
            ELSE 're_read' END AS verdict
FROM corpus a JOIN corpus b
  ON a.id < b.id AND (a.acls = b.acls OR a.tkey = b.tkey)
"""


def q103_transcript_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript ARBITRATION after dedup — the step q102's
    transcript_conflict verdict feeds: a duplicate-recording cluster
    holds several drifted transcriptions of the same audio; keep the
    WER-MEDOID (the member minimizing total word-level edit distance to
    every other member, ties to the smallest doc_id) — the consensus
    pick, robust to any single bad re-transcription, vs q97's
    quality-argmax which never compares members to each other.

    Clusters come from the payload itself (md5 over the synthesized PCM
    bytes — the exact tier; near-dup tiers were proven in q32/q102);
    within-cluster pairwise distances reuse q100's construction: per-pair
    union-vocab dictionary encoding to single codepoints makes the JVM
    ``levenshtein`` built-in a WORD-level edit distance, no UDF, guard
    folded into the evaluated expression.  Per-cluster medoid = one
    window argmin.  Corpus: class c = doc_id % 150 shares one recording;
    transcripts are 30 class-keyed words with per-id drift (positions
    (7k + id) % m == 0, m = 4 heavy / 9 light by id % 3, id % 5 == 0
    clean).  DuckDB restates distances with editdist3 over the same
    encoding — the medoid argmin must agree exactly.  Scale: pair work
    is quadratic in CLUSTER size by the task's definition (arbitration
    reads every member), run after dedup where clusters are small; the
    BLOB reduces to a 32-char key at the scan."""
    from pyspark.sql import Window

    from text_similarity_node_spark.operators.audio import synth_sine1s_pcm_udf

    synth = synth_sine1s_pcm_udf()
    corpus = (
        _load(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn(
            "transcript",
            F.expr(
                "concat_ws(' ', transform(sequence(0, 29), k -> "
                "if(doc_id % 5 != 0 and (7*k + doc_id) % (if(doc_id % 3 = 0, 4, 9)) = 0, "
                "concat('e', doc_id, 'x', k), "
                "concat('w', doc_id % 150, 'x', k))))"
            ),
        )
        .withColumn("bytes", synth((F.col("doc_id") % 150)))
        .withColumn("ckey", F.md5(F.col("bytes")))
        .drop("bytes")
    )
    t = corpus.select("ckey", "doc_id", F.split("transcript", " ").alias("v"))
    a, b = t.alias("a"), t.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.ckey").alias("ckey"),
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.col("a.v").alias("v1"),
            F.col("b.v").alias("v2"),
        )
        .withColumn("vocab", F.expr("array_distinct(concat(v1, v2))"))
        .withColumn(
            "d",
            F.expr(
                "if(size(vocab) <= 190, "
                "cast(levenshtein("
                "concat_ws('', transform(v1, x -> char(64 + array_position(vocab, x)))), "
                "concat_ws('', transform(v2, x -> char(64 + array_position(vocab, x))))"
                ") as bigint), "
                "raise_error('q103: pair vocabulary exceeds single-codepoint encoding bound'))"
            ),
        )
        .select("ckey", "id1", "id2", "d")
    )
    totals = (
        pairs.select("ckey", F.col("id1").alias("member"), "d")
        .unionByName(pairs.select("ckey", F.col("id2").alias("member"), "d"))
        .groupBy("ckey", "member")
        .agg(F.sum("d").alias("total_edits"))
    )
    w = Window.partitionBy("ckey").orderBy("total_edits", "member")
    return (
        totals.withColumn("_rk", F.row_number().over(w))
        .withColumn(
            "cluster_id", F.min("member").over(Window.partitionBy("ckey"))
        )
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("ckey")).cast("long"),
        )
        .filter(F.col("_rk") == 1)
        .select(
            "cluster_id",
            F.col("member").alias("consensus_doc_id"),
            "n_members",
            "total_edits",
        )
    )


_Q103_SQL = r"""
WITH corpus AS (
  SELECT doc_id, doc_id % 150 AS ckey,
         list_transform(range(0, 30), k -> CASE
           WHEN doc_id % 5 != 0
                AND (7*k + doc_id) % (CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 9 END) = 0
           THEN 'e' || doc_id || 'x' || k
           ELSE 'w' || (doc_id % 150) || 'x' || k END) AS v
  FROM documents
), pairs AS (
  SELECT a.ckey, a.doc_id AS id1, b.doc_id AS id2, a.v AS v1, b.v AS v2,
         list_distinct(list_concat(a.v, b.v)) AS vocab
  FROM corpus a JOIN corpus b ON a.ckey = b.ckey AND a.doc_id < b.doc_id
), dist AS (
  SELECT ckey, id1, id2,
         editdist3(
           array_to_string(list_transform(v1, x -> chr(64 + list_position(vocab, x))), ''),
           array_to_string(list_transform(v2, x -> chr(64 + list_position(vocab, x))), '')
         )::BIGINT AS d
  FROM pairs
), totals AS (
  SELECT ckey, member, sum(d)::BIGINT AS total_edits
  FROM (
    SELECT ckey, id1 AS member, d FROM dist
    UNION ALL
    SELECT ckey, id2 AS member, d FROM dist
  )
  GROUP BY ckey, member
)
SELECT min(member) OVER (PARTITION BY ckey) AS cluster_id,
       member AS consensus_doc_id,
       (count(*) OVER (PARTITION BY ckey))::BIGINT AS n_members,
       total_edits
FROM totals
QUALIFY row_number() OVER (PARTITION BY ckey ORDER BY total_edits, member) = 1
"""


def q104_audio_boilerplate_intro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency audio-segment boilerplate (operators/audio_fp.
    boilerplate_audio_segments) — the waveform analog of q56's C4
    boilerplate-LINE rule: a landmark hash occurring in more than
    df_threshold DISTINCT clips is shared production furniture (channel
    intro jingle), not content.  Per clip: has_boilerplate + the
    intro_group representative (smallest clip sharing any boilerplate
    hash), computed as a double-min fold over (hash, clip) — never a
    pairwise join, because boilerplate hashes are exactly the hot keys
    an equi-join must not expand.

    Corpus: channel = doc_id % 5; members open with the channel's
    byte-identical two-tone jingle (sample-0-aligned, so intro-internal
    landmark hashes agree exactly across the channel) followed by
    per-id unique content (content hashes df=1; intro/content boundary
    frames mix both and also stay df=1).  doc_id % 4 == 0 skips the
    intro — the planted clean rows.  peaks_per_frame=1 on purpose:
    int16 quantization puts harmonics of the intro fundamental ~40 dB
    down but still above the noise floor, and a top-2 picker grabs one
    in single-tone frames — channel 0's 200 Hz intro has its 5th
    harmonic exactly on doc 0's 1000 Hz content, a planted-by-accident
    false positive; top-1 keeps only fundamentals, which are disjoint
    by construction.  The Spark side recovers the partition from
    waveforms alone; the oracle restates the congruence and derives
    each channel's representative relationally."""
    from text_similarity_node_spark.operators.audio import synth_intro_pcm_udf
    from text_similarity_node_spark.operators.audio_fp import (
        boilerplate_audio_segments,
    )

    corpus = (
        _load(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("bytes", synth_intro_pcm_udf()(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    out = boilerplate_audio_segments(
        corpus, "doc_id", "bytes", "sr_hz", df_threshold=8,
        frame_len=2048, hop=1024, peaks_per_frame=1, fanout=2,
        freq_quant_hz=1.0,
    )
    return out.select("doc_id", "has_boilerplate", "intro_group")


_Q104_SQL = """
WITH c AS (
  SELECT doc_id, doc_id % 5 AS ch, (doc_id % 4 != 0) AS has FROM documents
), g AS (
  SELECT ch, min(doc_id) AS grp FROM c WHERE has GROUP BY ch
)
SELECT c.doc_id, c.has AS has_boilerplate,
       CASE WHEN c.has THEN g.grp END AS intro_group
FROM c LEFT JOIN g ON c.ch = g.ch
"""


def q105_set_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric word-SET containment join (operators/simjoin.
    containment_join): directed pairs where |A ∩ B| >= 0.8·|A| — "doc
    A's vocabulary lives inside doc B's".  The set-level complement of
    q18's winnowing SUBSTRING containment (order-sensitive) and the
    asymmetric limit of the reference's overlap coefficient
    (token_based.cpp:226-284 normalizes by min(|A|,|B|); containment
    normalizes by |A| only, so a short quote embedded in a long page
    scores ~1 here while its symmetric Jaccard is tiny — the curation
    case Jaccard dedup structurally misses).

    Candidates via the containment prefix filter (A misses at most
    |A|-ceil(t|A|) of its OWN tokens, so its rarest-first prefix must
    hit B's full token index); verify is exact array_intersect.
    Integer-exact end-to-end: the gate compares isz·10^6 >= 800000·|A|
    and containment_micro is a BIGINT floor-div — no float thresholds
    to diverge from the oracle.  min_size=5 drops degenerate contained
    sides (a 1-word doc is "contained" in every doc sharing the word).

    Token universe: distinct codepoint 5-gram shingles, NOT words —
    the synthetic corpus draws from a 31-word vocabulary, so word-SET
    containment is ~58% dense (145k directed pairs over 500 docs:
    every doc's vocabulary sits inside most others); 5-gram sets keep
    word-ORDER evidence and yield a selective, meaningful result
    (the same reason the reference defaults NGRAM mode for dedup)."""
    from text_similarity_node_spark.operators.simjoin import containment_join

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", C.char_ngrams(F.col("text"), 5).alias("toks")
    )
    pairs = containment_join(docs, "doc_id", "toks", threshold=0.8, min_size=5)
    return pairs.select(
        F.col("contained_id"),
        F.col("container_id"),
        "isz",
        "containment_micro",
    )


_Q105_SQL = r"""
WITH g AS (
  SELECT doc_id,
         list_distinct([substring(text, i, 5)
                        FOR i IN range(1, greatest(length(text) - 4, 1) + 1)])
           AS toks
  FROM documents WHERE length(text) > 0
), t AS (
  SELECT doc_id, toks, len(toks) AS sz FROM g
)
SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
       len(list_intersect(a.toks, b.toks))::BIGINT AS isz,
       ((len(list_intersect(a.toks, b.toks))::BIGINT * 1000000) // a.sz)::BIGINT
         AS containment_micro
FROM t a JOIN t b ON a.doc_id != b.doc_id
WHERE a.sz >= 5
  AND len(list_intersect(a.toks, b.toks))::BIGINT * 1000000 >= 800000 * a.sz
"""


def q106_audio_set_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash over landmark-hash SETS (operators/audio_fp.
    audio_set_minhash_pairs) — partial-overlap audio similarity as a
    sketch tier.  The raw landmark equi-join (q32) must CAP hot hashes,
    which at 10^12 clips throws away exactly the hashes a large
    legitimate near-dup cluster shares; sketching each clip's whole
    landmark set into a k=128 MinHash signature moves candidate
    generation to the production salted band join (cold/salted/dropped
    dispositions, fan-out bounded per band, never per landmark), then
    an EXACT set-Jaccard verify over the two landmark arrays restores
    precision — the text pipeline's candidates-then-verify split,
    applied to the waveform's fingerprint set.  Reference semantics:
    Jaccard kernel #5 set mode (token_based.cpp:128-159) with landmark
    hashes as the token universe.

    Corpus (synth_shared_pcm_udf): class = doc_id % 25; members open
    with the class's byte-identical two-tone 0.8 s COMMON segment, then
    a per-id unique 0.4 s tail; frequency pools disjoint across classes
    and ids.  At frame 2048 / hop 1024 / top-1 peaks / fanout 2 each
    clip yields exactly 10 landmark hashes, 6 of them class-common, so
    within-class Jaccard is the constant 6/(10+10-6) = 6/14 ->
    jac_micro 428571 (BIGINT floor-div) and cross-class Jaccard is
    exactly 0.  The oracle restates the congruence AND the two
    integer invariants — a hash match certifies sketch recall 1.0 and
    verify precision 1.0 at once."""
    from text_similarity_node_spark.operators.audio import synth_shared_pcm_udf
    from text_similarity_node_spark.operators.audio_fp import (
        audio_set_minhash_pairs,
    )

    corpus = (
        _load(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("bytes", synth_shared_pcm_udf()(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    return audio_set_minhash_pairs(
        corpus, "doc_id", "bytes", "sr_hz", threshold=0.3,
        frame_len=2048, hop=1024, peaks_per_frame=1, fanout=2,
        freq_quant_hz=1.0,
    )


_Q106_SQL = """
WITH c AS (SELECT doc_id, doc_id % 25 AS cls FROM documents)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       6::BIGINT AS isz, 428571::BIGINT AS jac_micro
FROM c a JOIN c b ON a.cls = b.cls AND a.doc_id < b.doc_id
"""


def q107_normalized_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup — the near-exact tier every web
    pipeline (CCNet, RefinedWeb) runs between byte-exact dedup (q28)
    and MinHash: casefold + whitespace-collapse + trim BEFORE hashing,
    so re-encoded copies that differ only in case or spacing collapse
    while real edits survive for the near-dup tiers.  Reference hook:
    the kernels' case_sensitive=False preprocessing (functions/
    unicode.py fold tables; config.AlgorithmConfig) applied at corpus
    scale as a keying decision rather than per-pair.

    Plan: pure JVM normalization expressions (lower/regexp_replace/
    trim — whole-stage codegen, zero UDF), then the q28 shape: ONE
    shuffle on md5(norm) with window-min inside the hash partition;
    the 32-char digest is the only wide column shuffled.  Corpus
    plants an UPPERCASED copy (doc_id%5==0) and a whitespace-mangled
    copy (doc_id%7==0, doubled inner + leading/trailing spaces) —
    both must fold onto their source; byte-exact q28 sees neither."""
    base = _load(spark, sf_dir, "documents").select("doc_id", "text")
    upper = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    spaced = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.regexp_replace(F.col("text"), " ", "  "),
            F.lit(" "),
        ).alias("text"),
    )
    from pyspark.sql import Window

    corpus = base.unionByName(upper).unionByName(spaced)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    w = Window.partitionBy("norm_key")
    return (
        corpus.withColumn("norm_key", F.md5(norm))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "canonical_id",
            (F.col("doc_id") != F.col("canonical_id")).cast("int").alias("is_dup"),
        )
        .orderBy("doc_id")
    )


_Q107_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, upper(text) FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 200000, '  ' || replace(text, ' ', '  ') || ' '
  FROM documents WHERE doc_id % 7 = 0
), keyed AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS k
  FROM corpus
)
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY k) AS canonical_id,
       (doc_id != min(doc_id) OVER (PARTITION BY k))::INT AS is_dup
FROM keyed ORDER BY doc_id
"""


def q108_audio_loop_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-clip loop/stutter detection (operators/audio_fp.
    audio_loop_stats) — the waveform analog of q99's Gopher-style
    intra-document repetition filter: a looped clip repeats every
    landmark hash at several anchor frames, so the repeated-anchor
    fraction rep_micro = (n_landmarks - n_distinct_hashes)·10^6 div
    n_landmarks separates twice-played cycles (~370k-519k on this
    corpus) from non-repeating melodies (~111k-148k; the residue is
    segment-boundary frames).  ZERO exchanges: timed-landmark UDF then
    per-row size/array_distinct expressions — a map-only plan that
    scales by partition parallelism alone, like q99.

    Corpus (synth_loop_pcm_udf): 8-segment melodies; doc_id % 3 == 0
    plays its first 4 segments twice (the stutter plant).  The oracle
    restates the congruence; a hash match certifies the detector flags
    exactly the planted 167 loops and none of the 333 clean clips."""
    from text_similarity_node_spark.operators.audio import synth_loop_pcm_udf
    from text_similarity_node_spark.operators.audio_fp import audio_loop_stats

    corpus = (
        _load(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("bytes", synth_loop_pcm_udf()(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    out = audio_loop_stats(
        corpus, "doc_id", "bytes", "sr_hz", rep_threshold_micro=300_000,
        frame_len=2048, hop=1024, peaks_per_frame=1, fanout=2,
        freq_quant_hz=1.0,
    )
    return out.select("doc_id", "is_looped")


_Q108_SQL = """
SELECT doc_id, (doc_id % 3 = 0) AS is_looped FROM documents
"""


def q109_event_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity event rollup via CUBE(event_type, day) — the
    hypertable-rollup shape of the analytics surface: one pass over the
    fact table produces the (type, day) cells AND all three margin
    levels (per-type, per-day, grand total), with Catalyst expanding
    the grouping sets into a single partial-agg -> final-agg exchange
    (map-side combine; no per-granularity rescans).  The value mass
    rides the exact integer channel (cents = round(value*100) BIGINT
    — the q06 policy) so margins sum bit-exactly; grouping flags are
    emitted explicitly (g_type, g_day) because the NULL that CUBE
    emits for a margin is otherwise ambiguous with a NULL group key."""
    day = F.to_date("ts").alias("day")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        _load(spark, sf_dir, "events")
        .select("event_type", day, cents.alias("cents"))
        .cube("event_type", "day")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
        .select("event_type", "day", "g_type", "g_day", "n_events", "value_cents")
    )


_Q109_SQL = """
SELECT event_type, CAST(ts AS DATE) AS day,
       GROUPING(event_type)::INT AS g_type,
       GROUPING(CAST(ts AS DATE))::INT AS g_day,
       count(*)::BIGINT AS n_events,
       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
FROM events
GROUP BY CUBE (event_type, CAST(ts AS DATE))
"""


def q110_clips_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-hygiene audit over the EXACT input-hint clip schema
    (clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,
    transcript string) — the first query a 10^12-row audio table runs,
    before any dedup: does the metadata actually describe the payload?
    Pure JVM expressions (length(bytes), integer div), zero UDF, ZERO
    exchanges — map-only like q108.  Verdict precedence:

      unverifiable_codec  codec != pcm_s16le: length arithmetic can't
                          be checked without a decoder (honest stub
                          boundary — the repo has no codec libs)
      torn_frame          odd byte length: a truncated int16 sample
      dur_mismatch        dur_ms != len(bytes) div 32 at 16 kHz
      ok

    Corpus: vardur payloads (true dur_ms = 750 + doc_id%400 exactly);
    plants, in precedence order: codec mislabeled 'opus' (doc_id%13),
    last byte truncated (doc_id%17), dur_ms overstated +250
    (doc_id%11).  The oracle restates the congruence with the same
    CASE precedence, including overlap cells (e.g. id % 143 == 0 hits
    both %13 and %11 and must land on unverifiable_codec)."""
    from text_similarity_node_spark.operators.audio import (
        synth_sine_vardur_pcm_udf,
    )

    base = (
        _load(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("bytes", synth_sine_vardur_pcm_udf()(F.col("doc_id")))
    )
    clips = base.select(
        F.format_string("clip_%012d", F.col("doc_id")).alias("clip_id"),
        F.when(
            F.col("doc_id") % 17 == 0,
            F.expr("substring(bytes, 1, length(bytes) - 1)"),
        )
        .otherwise(F.col("bytes"))
        .alias("bytes"),
        F.lit(16000).alias("sr_hz"),
        (
            F.lit(750)
            + (F.col("doc_id") % 400)
            + F.when(F.col("doc_id") % 11 == 0, F.lit(250)).otherwise(F.lit(0))
        )
        .cast("int")
        .alias("dur_ms"),
        F.when(F.col("doc_id") % 13 == 0, F.lit("opus"))
        .otherwise(F.lit("pcm_s16le"))
        .alias("codec"),
    )
    blen = F.length("bytes").cast("long")
    verdict = (
        F.when(F.col("codec") != "pcm_s16le", F.lit("unverifiable_codec"))
        .when(blen % 2 != 0, F.lit("torn_frame"))
        .when(
            F.col("dur_ms").cast("long")
            != F.expr("(CAST(length(bytes) AS BIGINT) * 1000) div (sr_hz * 2)"),
            F.lit("dur_mismatch"),
        )
        .otherwise(F.lit("ok"))
    )
    return clips.select("clip_id", verdict.alias("verdict"))


_Q110_SQL = """
SELECT printf('clip_%012d', doc_id) AS clip_id,
       CASE WHEN doc_id % 13 = 0 THEN 'unverifiable_codec'
            WHEN doc_id % 17 = 0 THEN 'torn_frame'
            WHEN doc_id % 11 = 0 THEN 'dur_mismatch'
            ELSE 'ok' END AS verdict
FROM documents
"""


def q111_event_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly event counts with GAP FILL — the hypertable
    time_bucket_gapfill shape: hours inside [min, max] of each type's
    activity that saw zero events must appear as explicit zero rows
    (downstream rate/alerting math breaks on missing buckets).  Plan:
    aggregate first (the only wide exchange, map-side combined), then
    densify the DIMENSION, not the facts — per type one tiny row
    (min_h, max_h) explodes via sequence() into the hour spine, and
    the left join back to the aggregated counts runs broadcast (the
    spine is |types|·|hours|, microscopic next to the fact table at
    any scale).  Zero-fill via coalesce; all JVM.  DuckDB restates the
    spine with generate_series."""
    ev = _load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    )
    counts = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    spine = (
        counts.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    return spine.join(F.broadcast(counts), ["event_type", "h"], "left").select(
        "event_type",
        F.col("h").alias("hour"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
    )


_Q111_SQL = """
WITH counts AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(h) AS h0, max(h) AS h1 FROM counts GROUP BY 1
), spine AS (
  SELECT b.event_type, s.h
  FROM bounds b, LATERAL (
    SELECT unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS h
  ) s
)
SELECT s.event_type, s.h AS hour, coalesce(c.n_events, 0)::BIGINT AS n_events
FROM spine s LEFT JOIN counts c ON s.event_type = c.event_type AND s.h = c.h
"""


def q112_audio_polarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polarity-inversion robustness audit of the audio dedup verify
    (operators/audio.pairwise_snr_polarity_udf).  A polarity-inverted
    copy (x -> -x: swapped balanced wiring, a DAW export flag) is the
    same recording to every spectral tier — |FFT| and landmark hashes
    are sign-invariant, so the candidate stage (q32's fingerprint
    equi-join) finds the pair — but the RAW SNR verify scores it
    10·log10(1/4) ~ -6 dB (noise = 2x) and silently rejects exactly
    the pairs the candidates were right about.  The polarity-aware
    verifier checks both signs (one negation per pair) and restores
    them.  The query emits both verdicts per candidate pair so the
    oracle certifies the failure mode AND the fix: every planted pair
    must have raw_rejects = true and accepted = true.

    Corpus: bases doc_id < 200 (unique sine class per base), inverted
    copies at doc_id + 1_000_000 for doc_id % 3 == 0 via
    gain_pcm_udf(-1.0) (exact int16 negation, amp 0.5 keeps samples
    off the -32768 asymmetry).  Candidates from the landmark join;
    cross-base pairs impossible (disjoint frequencies)."""
    from text_similarity_node_spark.operators.audio import (
        gain_pcm_udf,
        pairwise_snr_polarity_udf,
        pairwise_snr_udf,
        synth_sine1s_pcm_udf,
    )
    from text_similarity_node_spark.operators.audio_fp import (
        audio_fingerprint_pairs,
    )

    base = (
        _load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(F.col("doc_id").alias("clip_id"))
        .withColumn("bytes", synth_sine1s_pcm_udf()(F.col("clip_id")))
    )
    inverted = base.filter(F.col("clip_id") % 3 == 0).select(
        (F.col("clip_id") + 1_000_000).alias("clip_id"),
        gain_pcm_udf(-1.0)(F.col("bytes")).alias("bytes"),
    )
    corpus = (
        base.unionByName(inverted)
        .withColumn("sr_hz", F.lit(16000))
        .persist()
    )
    pairs = audio_fingerprint_pairs(
        corpus, "clip_id", "bytes", "sr_hz", min_matches=2,
        frame_len=4096, hop=2048, peaks_per_frame=1, fanout=2,
        freq_quant_hz=1.0,
    )
    b1 = corpus.select(F.col("clip_id").alias("id1"), F.col("bytes").alias("_b1"))
    b2 = corpus.select(F.col("clip_id").alias("id2"), F.col("bytes").alias("_b2"))
    return (
        pairs.join(b1, "id1")
        .join(b2, "id2")
        .withColumn("snr_raw", pairwise_snr_udf(F.col("_b1"), F.col("_b2")))
        .withColumn(
            "snr_pol", pairwise_snr_polarity_udf(F.col("_b1"), F.col("_b2"))
        )
        .select(
            "id1",
            "id2",
            (F.col("snr_raw") < 30.0).alias("raw_rejects"),
            (F.col("snr_pol") >= 30.0).alias("accepted"),
        )
    )


_Q112_SQL = """
SELECT doc_id AS id1, doc_id + 1000000 AS id2,
       true AS raw_rejects, true AS accepted
FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0
"""


def q113_minhash_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash MERGEABILITY audit — the sketch-algebra property the
    other sketch queries don't exercise: sketch(A ∪ B) = elementwise
    min of sketch(A), sketch(B).  Per-language VOCABULARY sketches are
    built by merging the per-document signatures with one groupBy of k
    F.min aggregates — corpus-level vocabulary overlap WITHOUT ever
    shuffling the token universe (the exact path explodes every
    shingle; the merge path shuffles k longs per doc).  That is the
    shape that survives 10^12 rows: signatures are also the pipeline's
    existing per-doc artifact, so lang-level (or source-, or
    snapshot-level) overlap comes from a reduction over data already
    computed.  Estimator contract (q92 pattern): slot agreement of two
    merged sketches estimates J(vocab1, vocab2); per lang pair the
    measured |est - exact| must sit within 125000 micro (~5.5 sigma at
    k=128, J~0.93; measured max ~47000 = 2.1 sigma).  The exact side
    (isz, n1, n2, jexact_micro) is SQL-restatable and pins the truth;
    est_within_bound carries the sketch-side verdict into the hash."""
    from text_similarity_node_spark.operators.minhash import (
        minhash_signature_udf,
        signature_agreement_col,
    )

    k = 128
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", "lang", C.char_ngrams(F.col("text"), 5).alias("toks")
    )
    sig = docs.withColumn("sig", minhash_signature_udf(k, 42)(F.col("toks")))
    merged = sig.groupBy("lang").agg(
        F.array(*[F.min(F.element_at("sig", i + 1)) for i in range(k)]).alias(
            "vsig"
        )
    )
    a, b = merged.alias("a"), merged.alias("b")
    est = a.join(b, F.col("a.lang") < F.col("b.lang")).select(
        F.col("a.lang").alias("lang1"),
        F.col("b.lang").alias("lang2"),
        (
            signature_agreement_col(F.col("a.vsig"), F.col("b.vsig"), k)
            * 1_000_000
        )
        .cast("long")
        .alias("est_micro"),
    )
    vocab = docs.select("lang", F.explode("toks").alias("g")).distinct()
    va, vb = vocab.alias("va"), vocab.alias("vb")
    inter = (
        va.join(
            vb,
            (F.col("va.g") == F.col("vb.g"))
            & (F.col("va.lang") < F.col("vb.lang")),
        )
        .groupBy(
            F.col("va.lang").alias("lang1"), F.col("vb.lang").alias("lang2")
        )
        .agg(F.count(F.lit(1)).alias("isz"))
    )
    sz = vocab.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    exact = (
        inter.join(
            F.broadcast(sz.select(F.col("lang").alias("lang1"), F.col("n").alias("n1"))),
            "lang1",
        )
        .join(
            F.broadcast(sz.select(F.col("lang").alias("lang2"), F.col("n").alias("n2"))),
            "lang2",
        )
        .withColumn(
            "jexact_micro",
            F.expr("(isz * 1000000L) div (n1 + n2 - isz)"),
        )
    )
    return (
        exact.join(F.broadcast(est), ["lang1", "lang2"])
        .select(
            "lang1",
            "lang2",
            "isz",
            "n1",
            "n2",
            "jexact_micro",
            (
                F.abs(F.col("est_micro") - F.col("jexact_micro")) <= 125_000
            ).alias("est_within_bound"),
        )
    )


_Q113_SQL = """
WITH g AS (
  SELECT DISTINCT lang, substring(text, i, 5) AS gm
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i)
  WHERE length(text) > 0
), sz AS (
  SELECT lang, count(*)::BIGINT AS n FROM g GROUP BY lang
), ix AS (
  SELECT a.lang AS lang1, b.lang AS lang2, count(*)::BIGINT AS isz
  FROM g a JOIN g b ON a.gm = b.gm AND a.lang < b.lang
  GROUP BY 1, 2
)
SELECT lang1, lang2, isz, s1.n AS n1, s2.n AS n2,
       ((isz * 1000000) // (s1.n + s2.n - isz))::BIGINT AS jexact_micro,
       true AS est_within_bound
FROM ix JOIN sz s1 ON s1.lang = lang1 JOIN sz s2 ON s2.lang = lang2
"""


def q114_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k through the skew-aware two-stage window
    (operators/topk.grouped_topk): top-3 longest documents per
    language.  The naive PARTITION BY lang window ships EVERY row of a
    language to one task — with a handful of languages that is a
    5-task plan at any cluster size, and one hot language owns its
    whole mass.  The salted first pass keeps top-k per (lang, salt)
    sub-group (parallelism x 32, sort over 1/32 of the rows), the
    second pass ranks the <= k*32 survivors — constant work per group.
    Same disposition idea as the LSH band join, applied to an
    aggregation.  Total order via (n_chars desc, doc_id asc) makes the
    result deterministic; DuckDB restates it with a QUALIFY window."""
    from text_similarity_node_spark.operators.topk import grouped_topk

    docs = _load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return grouped_topk(
        docs, ["lang"], "n_chars", 3, ["doc_id"], salt_buckets=32
    ).select("lang", "doc_id", "n_chars", "rn")


_Q114_SQL = """
SELECT lang, doc_id, n_chars, rn FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC)::INT AS rn
  FROM documents
) WHERE rn <= 3
"""


def q115_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding CENTROID DRIFT between two snapshot halves
    (vec_id parity) — the distribution-shift monitor a training
    pipeline runs before mixing a new crawl into an old corpus: a
    label whose centroid moved is a cluster whose meaning drifted (or
    an upstream embedding-model change).  Exactness discipline: each
    component is milli-quantized to BIGINT once (round(v*1000) — the
    only step touching floats), then everything is integer: per-dim
    conditional sums s0_d/s1_d in ONE map-side-combined aggregation
    over the posexploded (label, dim) grid, and the division-free
    drift Sum_d (s0_d*n1 - s1_d*n0)^2 — comparing n1-scaled and
    n0-scaled centroids avoids rational centroids entirely (bounded:
    |q|<=~3e3, n<=~250 -> the squared term < 4e15, the 64-dim sum
    < 3e17, inside int64).  The dim-level grid is |labels|*64 rows —
    microscopic at any corpus size; the wide work is the single
    explode-aggregate pass."""
    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    )
    q = F.round(F.col("v") * 1000).cast("long")
    par0 = F.col("vec_id") % 2 == 0
    grid = (
        emb.withColumn("q", q)
        .groupBy("label", "dim")
        .agg(
            F.sum(F.when(par0, F.col("q")).otherwise(F.lit(0))).alias("s0"),
            F.sum(F.when(~par0, F.col("q")).otherwise(F.lit(0))).alias("s1"),
        )
    )
    counts = (
        _load(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(
            F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n0"),
            F.sum(F.when(F.col("vec_id") % 2 != 0, 1).otherwise(0))
            .cast("long")
            .alias("n1"),
        )
    )
    return (
        grid.join(F.broadcast(counts), "label")
        .groupBy("label", "n0", "n1")
        .agg(
            F.sum(
                (F.col("s0") * F.col("n1") - F.col("s1") * F.col("n0"))
                * (F.col("s0") * F.col("n1") - F.col("s1") * F.col("n0"))
            ).alias("drift_sq")
        )
        .select("label", "n0", "n1", "drift_sq")
    )


_Q115_SQL = """
WITH ex AS (
  SELECT label, vec_id % 2 AS par,
         generate_subscripts(embedding, 1) AS dim,
         round(unnest(embedding) * 1000)::BIGINT AS q
  FROM embeddings
), grid AS (
  SELECT label, dim,
         sum(CASE WHEN par = 0 THEN q ELSE 0 END)::BIGINT AS s0,
         sum(CASE WHEN par = 1 THEN q ELSE 0 END)::BIGINT AS s1
  FROM ex GROUP BY label, dim
), counts AS (
  SELECT label,
         sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
         sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n1
  FROM embeddings GROUP BY label
)
SELECT g.label, c.n0, c.n1,
       sum((g.s0 * c.n1 - g.s1 * c.n0) * (g.s0 * c.n1 - g.s1 * c.n0))::BIGINT
         AS drift_sq
FROM grid g JOIN counts c ON g.label = c.label
GROUP BY g.label, c.n0, c.n1
"""


def q116_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected-components maintenance (operators/
    components.incremental_components) — the daily-ingest shape: at
    10^12 rows yesterday's edge list is never re-walked; an epoch of
    new edges touches only the components it reaches, whose STARS
    (member -> cluster_id, connectivity-equivalent to the component)
    join the new edges in a mini-CC while untouched labels pass
    through.  Here q14's exact-dup edge graph is split by parity of
    (id1 + id2); prior labels come from epoch 1, epoch 2 arrives
    incrementally — the result must be IDENTICAL to full CC over the
    union, i.e. exactly q14's oracle (text-equality groups), which is
    what makes the maintenance path driver-checkable: any vertex the
    incremental path drops, double-labels, or mis-merges breaks the
    hash."""
    from text_similarity_node_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    corpus = _dedup_corpus(spark, sf_dir)
    a, b = corpus.alias("a"), corpus.alias("b")
    edges = a.join(
        b,
        (F.col("a.text") == F.col("b.text"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
    edges = edges.persist()
    epoch1 = edges.filter((F.col("id1") + F.col("id2")) % 2 == 0)
    epoch2 = edges.filter((F.col("id1") + F.col("id2")) % 2 != 0)
    prior = connected_components(epoch1)
    return incremental_components(prior, epoch2).select(
        F.col("clip_id").alias("doc_id"), F.col("cluster_id").alias("cluster_id")
    )


_Q116_SQL = f"""
WITH corpus AS ({_DEDUP_CORPUS_SQL}),
groups AS (
  SELECT text, min(doc_id) AS cluster_id, count(*) AS n
  FROM corpus GROUP BY text HAVING count(*) >= 2
)
SELECT c.doc_id AS doc_id, g.cluster_id AS cluster_id
FROM corpus c JOIN groups g ON c.text = g.text
"""


def q117_channel_layout_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel-layout-normalized audio dedup: a mono recording
    re-shipped in a stereo container (dual-mono, L = R — the most
    common layout re-encode in the wild) is byte-disjoint from its
    source, defeats md5/CDC AND the landmark join (interleaved bytes
    decode to a different waveform), so the pipeline must NORMALIZE
    LAYOUT FIRST: stereo rows downmix to mono (trunc((L+R)/2),
    operators/audio.downmix_pcm_udf — dual-mono reproduces the source
    EXACTLY), then the standard landmark-candidates -> SNR-verify path
    runs on the normalized payloads.  One conditional map over the
    BLOB (never shuffled), then q32's join shape.

    Corpus: mono bases doc_id < 300 (unique sine classes), dual-mono
    stereo re-encodes at doc_id + 1_000_000 for doc_id % 4 == 0.
    After normalization the copy is byte-identical to its source, so
    every planted pair verifies at SNR = inf and cross-base pairs are
    impossible (disjoint frequencies); the oracle restates the
    congruence."""
    from text_similarity_node_spark.operators.audio import (
        downmix_pcm_udf,
        mono_to_stereo_pcm_udf,
        synth_sine1s_pcm_udf,
    )
    from text_similarity_node_spark.operators.audio_fp import audio_neardup

    base = (
        _load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").alias("clip_id"))
        .withColumn("bytes", synth_sine1s_pcm_udf()(F.col("clip_id")))
        .withColumn("layout", F.lit("mono"))
    )
    stereo = base.filter(F.col("clip_id") % 4 == 0).select(
        (F.col("clip_id") + 1_000_000).alias("clip_id"),
        mono_to_stereo_pcm_udf(F.col("bytes")).alias("bytes"),
        F.lit("stereo").alias("layout"),
    )
    corpus = base.unionByName(stereo).withColumn(
        "norm_bytes",
        F.when(
            F.col("layout") == "stereo", downmix_pcm_udf(F.col("bytes"))
        ).otherwise(F.col("bytes")),
    ).withColumn("sr_hz", F.lit(16000))
    pairs = audio_neardup(
        corpus, "clip_id", "norm_bytes", "sr_hz",
        snr_threshold_db=30.0, min_matches=2,
        frame_len=4096, hop=2048, peaks_per_frame=1, fanout=2,
        freq_quant_hz=1.0,
    )
    return pairs.select("id1", "id2")


_Q117_SQL = """
SELECT doc_id AS id1, doc_id + 1000000 AS id2
FROM documents WHERE doc_id < 300 AND doc_id % 4 = 0
"""


def q118_sql_surface_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-callable kernel surface (engine.register_sql_functions)
    exercised end-to-end in the correctness gate: the whole query is a
    ``spark.sql`` string — blocked self-join on (lang, |Δn_chars| <= 3)
    then a ``tsn_sim_levenshtein`` filter — the ad-hoc-analyst path (BI
    tools, SQL notebooks) that never touches the DataFrame API.  The
    registered UDF is the same scalar kernel the DataFrame path uses
    (functions/kernels.py via functions/spark_udfs.py), so a hash match
    against DuckDB's levenshtein certifies that the SQL spelling cannot
    drift from the engine's semantics.  Blocking keeps the kernel on
    the post-filter candidate set — the registered functions are the
    per-pair slow path by contract, not a join strategy."""
    from text_similarity_node_spark.engine import register_sql_functions

    register_sql_functions(spark)
    _load(spark, sf_dir, "documents").createOrReplaceTempView("tsn_docs")
    return spark.sql(
        """
        SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
               round(tsn_sim_levenshtein(a.text, b.text), 6) AS lev_sim
        FROM tsn_docs a JOIN tsn_docs b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
         AND abs(a.n_chars - b.n_chars) <= 3
        WHERE tsn_sim_levenshtein(a.text, b.text) >= 0.78
        """
    )


_Q118_SQL = """
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       round(1.0 - levenshtein(a.text, b.text)::DOUBLE
                   / greatest(length(a.text), length(b.text)), 6) AS lev_sim
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 3
WHERE 1.0 - levenshtein(a.text, b.text)::DOUBLE
            / greatest(length(a.text), length(b.text)) >= 0.78
"""


def q119_audio_hk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-content near-dup pairs via the SECOND fingerprint family —
    Haitsma-Kalker band-energy-difference sign bits + bit-error-rate
    verify (operators/audio_hk.py) — covering the broadband-spectral-
    shape regime the landmark scheme (q32) is blind to.  Corpus: one
    deterministic broadband clip per doc (class = doc_id % 100 keys a
    seeded per-segment band-amplitude pattern) plus seeded noisy copies
    (~35 dB SNR) at doc_id + 1_000_000 for doc_id % 6 == 0; the id
    congruence mod 100 is the SQL ground truth.  Measured separation on
    this family (32-bit words, 33 bands — the 2002 paper's word width,
    which also keeps cross-class word-value collisions out of the hot
    cap at corpus scale): intra-class BER <= 0.013, inter-class >= 0.45,
    so the 0.25 verify threshold recovers exactly the congruence pairs
    (recall and precision both 1.0) — any missed/extra pair breaks the
    hash."""
    from text_similarity_node_spark.operators.audio_hk import (
        hk_neardup,
        synth_hk_pcm_udf,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    synth = synth_hk_pcm_udf(n_classes=100)
    corpus = (
        base.unionByName(copies)
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    pairs = hk_neardup(corpus, "doc_id", "bytes", max_ber=0.25)
    return pairs.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q119_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 6 = 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
FROM corpus a JOIN corpus b
  ON a.doc_id < b.doc_id AND a.doc_id % 100 = b.doc_id % 100
"""


def q120_audio_dtw_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-warp-robust audio near-dup pairs: banded-DTW verify over log
    band-energy sequences with order-invariant HK-word candidates
    (operators/audio_dtw.py) — the LOCAL-warp regime (repeated/dropped
    phrase, variable-speed re-encode) that defeats every aligned tier:
    the copies here read BER ~0.1-0.5 against their source (invisible
    to q119's verify) yet DTW <= 0.0033 (measured; unrelated >= 0.076).
    Corpus: q119's broadband class family (32-bit words), but copies
    (doc_id + 1_000_000 for doc_id % 6 == 0) have one seeded segment
    duplicated and another deleted before the ~35 dB jitter.
    Congruence mod 100 is the SQL ground truth; threshold 0.015 sits
    4.5x above the intra ceiling and 5x below the inter floor, so recall
    and precision are both exactly 1.0 — any missed/extra pair breaks
    the hash."""
    from text_similarity_node_spark.operators.audio_dtw import (
        dtw_neardup,
        synth_warped_pcm_udf,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    synth = synth_warped_pcm_udf(n_classes=100)
    corpus = (
        base.unionByName(copies)
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    pairs = dtw_neardup(corpus, "doc_id", "bytes", max_dtw=0.015)
    return pairs.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q120_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 6 = 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
FROM corpus a JOIN corpus b
  ON a.doc_id < b.doc_id AND a.doc_id % 100 = b.doc_id % 100
"""


def q121_audio_pitch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PITCH-SHIFT robustness tier (operators/audio_pitch.py) — the
    transform axis no existing tier survives: a key change (frequency
    x 2^(k/12), tempo unchanged) moves every landmark (q32/q51), flips
    the HK sign bits (q119), and translates the band profile past the
    one-band tolerance the +-3%% stretch tier (q101) absorbs.  In
    semitone-spaced log bands the shift is an exact integer TRANSLATION,
    so candidates come from a shift-invariant equi-join key (the
    pairwise index differences of the top-3 energy bands — preserved by
    any uniform translation) and the verify is the best-lag normalized
    cross-correlation over lags in [-8, +8] (2x the planted per-clip
    range — copy-copy pairs in one class sit up to 8 semitones apart),
    pure JVM; the argmax lag IS the planted key distance, which the
    query emits and the oracle restates in closed form.  Corpus: 3-tone chord per doc at semitone
    band centers, class = doc_id %% 200 with a UNIQUE top-3 difference
    pattern per class (no two classes are transpositions, so neither
    stage can cross-match); copies at doc_id + 1_000_000 for
    doc_id %% 6 == 0, shifted by k = ((d/6) %% 9) - 4 semitones with
    seeded phase offsets and ~38 dB noise.  Congruence mod 200 is the
    pair ground truth AND the shift column is checked bit-exactly:
    recall, precision, and shift recovery must all be perfect for the
    hash to match (measured: intra best-lag ncc 1.0, wrong-lag/inter
    <= 0.52)."""
    from text_similarity_node_spark.operators.audio_pitch import (
        audio_pitch_pairs,
        synth_pitch_pcm_udf,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    synth = synth_pitch_pcm_udf(n_classes=200)
    corpus = (
        base.unionByName(copies)
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    # max_shift=8 = 2x the planted per-clip range: copies carry
    # k in [-4,4], so a COPY-COPY pair in one class can sit 8 semitones
    # apart (first such pair: sources 48 and 648, so any corpus with
    # >= ~650 doc_ids — sf0.1's 500 docs never reach it, sf>=2 does).
    # The oracle counts every congruent pair, so the search window must
    # cover the worst-case pairwise shift, not the per-clip one.
    pairs = audio_pitch_pairs(
        corpus, "doc_id", "bytes", threshold=0.9, max_shift=8
    )
    return pairs.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        F.col("shift_semitones").cast("int").alias("shift_semitones"),
    )


_Q121_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 6 = 0
), keyed AS (
  SELECT doc_id,
         CASE WHEN doc_id >= 1000000
              THEN ((doc_id - 1000000) // 6) % 9 - 4
              ELSE 0 END AS k
  FROM corpus
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       (b.k - a.k)::INT AS shift_semitones
FROM keyed a JOIN keyed b
  ON a.doc_id < b.doc_id AND a.doc_id % 200 = b.doc_id % 200
"""


def q122_audio_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIERED AUDIO dedup cascade (operators/audio_cascade.py) — the
    waveform analog of q49's namesake text cascade, composing the whole
    audio robustness family with per-clip TIER ATTRIBUTION: tier 1 exact
    (md5 star pairs) -> tier 2 landmark candidates + BEST-GAIN SNR
    verify (catches volume-rescaled re-encodes; rejects warps — no
    scalar gain aligns permuted envelopes, measured 36.7 vs 0.5 dB) ->
    tier 3 semitone spike-mask words + banded-DTW verify (catches
    locally warped copies, measured dtw <= 0.072 with per-frame
    mean-centered log energies (gain copies, removed upstream at tier 2,
    sit >= 0.098; cross-class pairs share 0 words and never reach the
    verify),
    which never even reaches the verify: 0 shared words) -> tier 4
    shift-invariant key + best-lag NCC (catches key changes, the
    transform every earlier tier is measured blind to: 0 shared
    landmarks/words).  Each tier sees only the residual of the previous
    ones — the cascade ordering is the 10^12-row scale story (cheap
    passes shrink expensive passes' input), and every candidate stage is
    the already-audited capped equi-join of its operator.

    Corpus: base clips are class-keyed segmented chords (class = doc_id
    %% 200; same-class base rows byte-identical, so base congruence
    lands at the exact tier); ONE copy per class at src < 200,
    src %% 4 == 0, with transform (src//4) %% 4 in {exact, gain, warp,
    pitch} — one copy per class by design, because two same-transform
    copies of one class would legitimately claim each other at an
    earlier tier than their keeper and attribution would stop being
    closed-form.  Oracle: keeper = min base id per class; removed = all
    non-keeper bases at tier 1 plus every copy at its transform's tier."""
    from text_similarity_node_spark.operators.audio_cascade import (
        audio_dedup_cascade,
        default_audio_tiers,
        synth_cascade_pcm_udf,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(
        (F.col("doc_id") < 200) & (F.col("doc_id") % 4 == 0)
    ).select((F.col("doc_id") + 1_000_000).alias("doc_id"))
    synth = synth_cascade_pcm_udf(n_classes=200)
    corpus = (
        base.unionByName(copies)
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn("sr_hz", F.lit(16000))
        .persist()
    )
    res = audio_dedup_cascade(corpus, "doc_id", default_audio_tiers())
    return res.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("kept_id").cast("long").alias("kept_id"),
        "tier",
        "tier_name",
    )


_Q122_SQL = """
WITH base AS (SELECT doc_id FROM documents),
canon AS (
  SELECT doc_id % 200 AS cls, MIN(doc_id) AS keeper
  FROM base GROUP BY 1
),
removed AS (
  SELECT doc_id AS clip_id, doc_id % 200 AS cls, 1 AS tier
  FROM base
  UNION ALL
  SELECT doc_id + 1000000, doc_id % 200,
         CASE (doc_id // 4) % 4
           WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3 ELSE 4 END
  FROM base WHERE doc_id < 200 AND doc_id % 4 = 0
)
SELECT r.clip_id::BIGINT AS clip_id,
       c.keeper::BIGINT AS kept_id,
       r.tier::INT AS tier,
       CASE r.tier WHEN 1 THEN 'exact' WHEN 2 THEN 'landmark'
            WHEN 3 THEN 'dtw' ELSE 'pitch' END AS tier_name
FROM removed r JOIN canon c ON r.cls = c.cls
WHERE r.clip_id != c.keeper
"""


def q123_warped_snippet_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warped-snippet retrieval via SUBSEQUENCE DTW
    (operators/audio_subseq.py) — the elastic generalization of q96's
    rigid snippet containment: the query is an 8-segment excerpt of a
    catalog melody that has been locally TEMPO-WARPED (one beat
    repeated, another dropped), so no single offset aligns it and the
    landmark offset-histogram vote collapses; subsequence DTW (Mueller's
    music-retrieval construction — slide the banded DP over every
    admissible start on the catalog axis, take the argmin start) both
    retrieves the parent and recovers WHERE the excerpt begins.
    Candidates: note-TRIGRAM word equi-join (packed argmax-band indices
    of 3 consecutive segments; 3 consecutive source segments survive any
    single dup+drop edit), hot words capped with metrics.  Verify:
    sliding banded DTW over mean-centered semitone log energies,
    lockstep-batched.  Margins measured over the FULL sf0.1 population
    (500 snippets): argmin start == planted start on every snippet,
    worst true cost 0.1687 vs wrong-clip >= 0.1988 — threshold 0.19.
    Oracle: parent and start are closed forms of the snippet id."""
    from text_similarity_node_spark.operators.audio_subseq import (
        subseq_dtw_retrieve,
        synth_subseq_pcm_udf,
    )

    synth = synth_subseq_pcm_udf()
    base = _load(spark, sf_dir, "documents").select("doc_id")
    catalog = (
        base.select(F.col("doc_id").alias("clip_id"))
        .withColumn("bytes", synth(F.col("clip_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    snippets = (
        base.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("clip_id"))
        .withColumn("bytes", synth(F.col("clip_id")))
        .withColumn("sr_hz", F.lit(16000))
    )
    res = subseq_dtw_retrieve(snippets, catalog)
    return res.select(
        F.col("snippet_id").cast("long").alias("snippet_id"),
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("start_seg").cast("int").alias("start_seg"),
    )


_Q123_SQL = """
SELECT (doc_id + 1000000)::BIGINT AS snippet_id,
       doc_id::BIGINT AS clip_id,
       ((doc_id // 10) % 9)::INT AS start_seg
FROM documents WHERE doc_id % 10 = 0
"""


def q124_audio_echo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECHO robustness tier — the CONVOLUTIVE channel axis none of the
    other transforms cover (q51 shift, q52 rate, q71 gain, q101 stretch,
    q112 polarity, q117 layout, q120 warp, q121 pitch are all either
    alignment or frequency transforms): copies pass through a 2-tap
    room-reflection channel y = (x + 0.45*x[.-523])/1.45
    (operators/audio.echo_pcm_udf), which defeats the plain AND the
    best-gain SNR verifies (measured < 15 dB aligned) while leaving
    every spectral peak in place (|H| >= 0.55, no tone nulled), so
    landmark candidates survive unchanged.  Verify = CHANNEL-EQUALIZED
    SNR (audio.echofit_snr): closed-form least-squares 2-tap fit at
    every candidate delay from FFT correlation sequences; only the true
    delay can reproduce 3 per-tone complex gains with 2 real taps
    (argmax-crosscorr picks wrong lags on quasi-periodic content —
    measured 7.2 dB vs 83.8 dB full search), and a pair that is not a
    2-tap rendition keeps its unshared tone as irreducible residual
    (cross-class <= 9.5 dB, threshold 25).  Corpus: q121's stationary
    chords (synth_pitch_pcm_udf base branch; copies at +500_000, below
    the synth's 1M pitch threshold, echoed after synthesis); same-class
    bases are byte-identical, so ground truth is PURE CONGRUENCE mod 200
    over the corpus — the closed-form oracle."""
    from text_similarity_node_spark.operators.audio import (
        echo_pcm_udf,
        pairwise_snr_echofit_udf,
    )
    from text_similarity_node_spark.operators.audio_fp import (
        audio_fingerprint_pairs,
    )
    from text_similarity_node_spark.operators.audio_pitch import (
        synth_pitch_pcm_udf,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    synth = synth_pitch_pcm_udf(n_classes=200)
    corpus = (
        base.unionByName(
            base.filter(F.col("doc_id") % 6 == 0).select(
                (F.col("doc_id") + 500_000).alias("doc_id")
            )
        )
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn(
            "bytes",
            F.when(
                F.col("doc_id") >= 500_000, echo_pcm_udf()(F.col("bytes"))
            ).otherwise(F.col("bytes")),
        )
        .withColumn("sr_hz", F.lit(16000))
        .persist()
    )
    cand = audio_fingerprint_pairs(
        corpus, "doc_id", "bytes", min_matches=2,
        frame_len=4096, hop=2048, peaks_per_frame=3, fanout=2,
        freq_quant_hz=1.0,
    )
    b1 = corpus.select(F.col("doc_id").alias("id1"), F.col("bytes").alias("_b1"))
    b2 = corpus.select(F.col("doc_id").alias("id2"), F.col("bytes").alias("_b2"))
    verified = (
        cand.join(b1, "id1")
        .join(b2, "id2")
        # cluster the ref side so the verify UDF's per-payload memo
        # (forward FFT + autocorr state reused across a clip's ~300
        # congruence pairs) actually hits: local sort, no exchange
        .sortWithinPartitions("id1")
        .withColumn(
            "snr_db", pairwise_snr_echofit_udf()(F.col("_b1"), F.col("_b2"))
        )
        .filter(F.col("snr_db") >= 25.0)
    )
    return verified.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q124_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 500000 FROM documents WHERE doc_id % 6 = 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
FROM corpus a JOIN corpus b
  ON a.doc_id < b.doc_id AND a.doc_id % 200 = b.doc_id % 200
"""


def q125_audio_reencode_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE re-encode robustness — transform CLOSURE of the
    channel-fit verify: copies here are gain-scaled AND time-shifted AND
    dithered in one pass (audio.reencode_pcm_udf — the realistic
    volume-normalize + head-trim re-upload), a composition no single-
    transform tier's verify was built for: plain SNR fails on the gain,
    best-gain SNR fails on the shift, and the offset-voting tier never
    verifies amplitude fidelity.  The q124 channel-equalized fit
    absorbs the composition FOR FREE: a pure shift-by-s gain-g copy is
    the 2-tap channel with g0 -> 0 and the g1 tap at lag s, inside the
    same closed-form per-delay LS search — measured >= 39.7 dB across
    classes x shifts 137..777 with exact lag recovery, vs <= 8.6 dB
    cross-class (the unshared-tone bound), threshold 25.  Candidates:
    landmark constellations, invariant to both gain (relative peaks)
    and shift (relative dt) — 21/21 hashes shared, measured.  Corpus:
    q121's stationary chords; copies at doc_id + 500_000 for
    doc_id %% 7 == 0; ground truth = congruence mod 200 (same-class
    bases byte-identical, so every congruent pair must verify)."""
    from text_similarity_node_spark.operators.audio import (
        pairwise_snr_echofit_udf,
        reencode_pcm_udf,
    )
    from text_similarity_node_spark.operators.audio_fp import (
        audio_fingerprint_pairs,
    )
    from text_similarity_node_spark.operators.audio_pitch import (
        synth_pitch_pcm_udf,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    synth = synth_pitch_pcm_udf(n_classes=200)
    corpus = (
        base.unionByName(
            base.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 500_000).alias("doc_id")
            )
        )
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn(
            "bytes",
            F.when(
                F.col("doc_id") >= 500_000,
                reencode_pcm_udf()(F.col("bytes")),
            ).otherwise(F.col("bytes")),
        )
        .withColumn("sr_hz", F.lit(16000))
        .persist()
    )
    cand = audio_fingerprint_pairs(
        corpus, "doc_id", "bytes", min_matches=2,
        frame_len=4096, hop=2048, peaks_per_frame=3, fanout=2,
        freq_quant_hz=1.0,
    )
    b1 = corpus.select(F.col("doc_id").alias("id1"), F.col("bytes").alias("_b1"))
    b2 = corpus.select(F.col("doc_id").alias("id2"), F.col("bytes").alias("_b2"))
    verified = (
        cand.join(b1, "id1")
        .join(b2, "id2")
        .sortWithinPartitions("id1")
        .withColumn(
            "snr_db", pairwise_snr_echofit_udf()(F.col("_b1"), F.col("_b2"))
        )
        .filter(F.col("snr_db") >= 25.0)
    )
    return verified.select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2")
    )


_Q125_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 500000 FROM documents WHERE doc_id % 7 = 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
FROM corpus a JOIN corpus b
  ON a.doc_id < b.doc_id AND a.doc_id % 200 = b.doc_id % 200
"""


def q126_audio_composite_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE pitch x stretch x echo robustness
    (operators/audio_composite.py) — the transform COMPOSITION closure
    the single-axis tiers leave open: copies here are pitch-shifted
    (k in [-4,4] semitones, the q121 axis), time-stretched (+-1.5%, the
    q101 axis, small enough that every tone stays inside its
    k-translated semitone band) AND passed through the q124 2-tap echo
    channel, in one chain.  The echo's independent per-tone gains (up to
    8.4 dB) break q121's NCC verify (measured worst-case cosine ~0.66),
    so the verify is RANK-based: exact integer translation of the top-3
    band triple (which simultaneously recovers the pitch distance,
    emitted and checked bit-exactly) plus a >= 0.5 energy-concentration
    gate on both sides — both statistics provably invariant to any
    per-band gain that preserves top-3 membership, which the echo's
    |H| >= 0.379 guarantees here by ~20 dB.  max_shift=8 covers the
    worst copy-copy pair (the q121 lesson).  Corpus: q121's chord
    classes (mod 200, unique difference patterns); copies at
    doc_id + 1_000_000 for doc_id % 6 == 0, echo applied as a separate
    waveform transform (audio.echo_pcm_udf) after the synth.
    Congruence mod 200 is the pair ground truth and the shift column's
    closed form is planted_shift(b) - planted_shift(a); recall,
    precision, and shift recovery must all be exact for the hash to
    match."""
    from text_similarity_node_spark.operators.audio import echo_pcm_udf
    from text_similarity_node_spark.operators.audio_composite import (
        composite_pairs,
        synth_composite_pcm_udf,
    )

    base = _load(spark, sf_dir, "documents").select("doc_id")
    copies = base.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id")
    )
    synth = synth_composite_pcm_udf(n_classes=200)
    corpus = (
        base.unionByName(copies)
        .withColumn("bytes", synth(F.col("doc_id")))
        .withColumn(
            "bytes",
            F.when(
                F.col("doc_id") >= 1_000_000, echo_pcm_udf()(F.col("bytes"))
            ).otherwise(F.col("bytes")),
        )
        .withColumn("sr_hz", F.lit(16000))
    )
    pairs = composite_pairs(corpus, "doc_id", "bytes", max_shift=8)
    return pairs.select(
        F.col("id1").alias("doc_id1"),
        F.col("id2").alias("doc_id2"),
        F.col("shift_semitones"),
    )


_Q126_SQL = """
WITH corpus AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 6 = 0
), keyed AS (
  SELECT doc_id,
         CASE WHEN doc_id >= 1000000
              THEN ((doc_id - 1000000) // 6) % 9 - 4
              ELSE 0 END AS k
  FROM corpus
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       (b.k - a.k)::INT AS shift_semitones
FROM keyed a JOIN keyed b
  ON a.doc_id < b.doc_id AND a.doc_id % 200 = b.doc_id % 200
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multiset trigram-Jaccard near-duplicate pairs on sf0.001."""
    return q04_ngram_jaccard_pairs(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Full catalog, RISK-ORDERED: the round driver hard-checks the
    first 50 entries against their DuckDB oracles, so the window
    carries the highest-evidence-value slice.  Round-5 rotation: the
    permanent anchors stay (every similarity kernel, the probabilistic
    candidate generators with their oracled recall audits), and the 30
    rotating slots now hold the strongest queries that were previously
    local-gate-only — the round-4 window (dedup/ANN core, audio
    robustness tiers, WER/consensus, incremental CC) is already
    driver-confirmed green in CORRECTNESS_r04.json and moves to the
    local-gate slice, which checks ALL entries
    (tests/test_entry_oracle.py)."""
    return {
        # ---- driver hard-check window (first 50) ----------------------
        # permanent anchors: 13 kernels + generator/recall-audit trios
        "q02_levenshtein_pairs": q02_levenshtein_pairs,
        "q23_damerau_pairs": q23_damerau_pairs,
        "q22_hamming_prefix": q22_hamming_prefix,
        "q26_jaro_pairs": q26_jaro_pairs,
        "q12_jaro_winkler_pairs": q12_jaro_winkler_pairs,
        "q03_word_jaccard_pairs": q03_word_jaccard_pairs,
        "q04_ngram_jaccard_pairs": q04_ngram_jaccard_pairs,
        "q13_prefix_jaccard_join": q13_prefix_jaccard_join,
        "q20_multiset_measures": q20_multiset_measures,
        "q24_cosine_pairs": q24_cosine_pairs,
        "q30_char_cosine_pairs": q30_char_cosine_pairs,
        "q38_char_cosine_nonascii_pairs": q38_char_cosine_nonascii_pairs,
        "q21_lnorm_distances": q21_lnorm_distances,
        "q25_chebyshev_pairs": q25_chebyshev_pairs,
        "q16_minhash_lsh_pairs": q16_minhash_lsh_pairs,
        "q31_simhash_recall_audit": q31_simhash_recall_audit,
        "q17_simhash_hamming_pairs": q17_simhash_hamming_pairs,
        "q35_minhash_recall_audit": q35_minhash_recall_audit,
        "q19_ann_lsh": q19_ann_lsh,
        "q36_ann_lsh_recall_audit": q36_ann_lsh_recall_audit,
        # round-5 rotating slots (previously local-gate-only)
        "q126_audio_composite_pairs": q126_audio_composite_pairs,
        "q95_suffix_array_repeats": q95_suffix_array_repeats,
        "q91_fuzzy_editdist_join": q91_fuzzy_editdist_join,
        "q76_wminhash_recall_audit": q76_wminhash_recall_audit,
        "q84_bbit_minhash_pairs": q84_bbit_minhash_pairs,
        "q60_semantic_dedup": q60_semantic_dedup,
        "q102_crossmodal_disagreement": q102_crossmodal_disagreement,
        "q75_mixture_rebalance": q75_mixture_rebalance,
        "q78_sequence_packing": q78_sequence_packing,
        "q113_minhash_merge_audit": q113_minhash_merge_audit,
        "q105_set_containment_join": q105_set_containment_join,
        "q63_lcs_overlap_pairs": q63_lcs_overlap_pairs,
        "q88_span_dedup_coverage": q88_span_dedup_coverage,
        "q87_bow_dedup_groups": q87_bow_dedup_groups,
        "q90_crosscorpus_dedup": q90_crosscorpus_dedup,
        "q107_normalized_exact_dedup": q107_normalized_exact_dedup,
        "q59_ann_quantized": q59_ann_quantized,
        "q115_embedding_centroid_drift": q115_embedding_centroid_drift,
        "q61_tfidf_cosine_pairs": q61_tfidf_cosine_pairs,
        "q73_tfidf_weighted_jaccard": q73_tfidf_weighted_jaccard,
        "q64_hll_vocab_audit": q64_hll_vocab_audit,
        "q77_percentile_sketch_audit": q77_percentile_sketch_audit,
        "q85_heavy_hitters": q85_heavy_hitters,
        "q92_minhash_estimator_audit": q92_minhash_estimator_audit,
        "q86_audio_cdc_pairs": q86_audio_cdc_pairs,
        "q106_audio_set_minhash_pairs": q106_audio_set_minhash_pairs,
        "q101_audio_stretch_profile_pairs": q101_audio_stretch_profile_pairs,
        "q108_audio_loop_filter": q108_audio_loop_filter,
        "q112_audio_polarity_pairs": q112_audio_polarity_pairs,
        "q117_channel_layout_dedup": q117_channel_layout_dedup,
        # ---- local-gate slice (checked by tests/test_entry_oracle.py) -
        # round-4 driver-confirmed window (CORRECTNESS_r04.json, all green)
        "q05_exact_dedup": q05_exact_dedup,
        "q28_exact_dedup_canonical": q28_exact_dedup_canonical,
        "q14_connected_components": q14_connected_components,
        "q116_incremental_cc": q116_incremental_cc,
        "q18_containment_pairs": q18_containment_pairs,
        "q29_embedding_neardup": q29_embedding_neardup,
        "q10_embedding_cosine_topk": q10_embedding_cosine_topk,
        "q33_ann_ivf": q33_ann_ivf,
        "q37_ngram_jaccard_scale": q37_ngram_jaccard_scale,
        "q49_dedup_cascade": q49_dedup_cascade,
        "q40_benchmark_contamination": q40_benchmark_contamination,
        "q07_quality_scores": q07_quality_scores,
        "q08_fingerprint": q08_fingerprint,
        "q06_token_stats": q06_token_stats,
        "q100_wer_audit": q100_wer_audit,
        "q103_transcript_consensus": q103_transcript_consensus,
        "q46_asof_join": q46_asof_join,
        "q47_interval_join": q47_interval_join,
        "q27_audio_rms": q27_audio_rms,
        "q32_audio_fingerprint_pairs": q32_audio_fingerprint_pairs,
        "q119_audio_hk_pairs": q119_audio_hk_pairs,
        "q120_audio_dtw_pairs": q120_audio_dtw_pairs,
        "q121_audio_pitch_pairs": q121_audio_pitch_pairs,
        "q122_audio_dedup_cascade": q122_audio_dedup_cascade,
        "q123_warped_snippet_retrieval": q123_warped_snippet_retrieval,
        "q124_audio_echo_pairs": q124_audio_echo_pairs,
        "q125_audio_reencode_pairs": q125_audio_reencode_pairs,
        "q34_image_phash_pairs": q34_image_phash_pairs,
        "q50_video_neardup": q50_video_neardup,
        "q39_multimodal_neardup_clusters": q39_multimodal_neardup_clusters,
        # rest of the catalog
        "q01_pricing_summary": q01_pricing_summary,
        "q09_priority_revenue": q09_priority_revenue,
        "q11_events_hourly": q11_events_hourly,
        "q15_langid": q15_langid,
        "q41_event_sessionization": q41_event_sessionization,
        "q42_train_val_split": q42_train_val_split,
        "q43_repetition_stats": q43_repetition_stats,
        "q44_pii_redaction": q44_pii_redaction,
        "q45_shipping_priority": q45_shipping_priority,
        "q48_audio_quality": q48_audio_quality,
        "q51_audio_shift_pairs": q51_audio_shift_pairs,
        "q52_audio_resample_pairs": q52_audio_resample_pairs,
        "q53_vad_segments": q53_vad_segments,
        "q54_speech_rate": q54_speech_rate,
        "q55_stereo_downmix": q55_stereo_downmix,
        "q56_boilerplate_lines": q56_boilerplate_lines,
        "q57_loudness_normalize": q57_loudness_normalize,
        "q58_vocabulary_head": q58_vocabulary_head,
        "q62_unigram_nll_quality": q62_unigram_nll_quality,
        "q65_event_debounce": q65_event_debounce,
        "q66_length_profile": q66_length_profile,
        "q67_leakage_safe_split": q67_leakage_safe_split,
        "q68_ngram_novelty": q68_ngram_novelty,
        "q69_dup_cluster_histogram": q69_dup_cluster_histogram,
        "q70_behavioral_neardup": q70_behavioral_neardup,
        "q71_audio_gain_pairs": q71_audio_gain_pairs,
        "q72_cc_twostar_chains": q72_cc_twostar_chains,
        "q74_stratified_sample": q74_stratified_sample,
        "q79_audio_zcr_features": q79_audio_zcr_features,
        "q80_bloom_contamination": q80_bloom_contamination,
        "q81_index_skew_profile": q81_index_skew_profile,
        "q82_source_dedup_attribution": q82_source_dedup_attribution,
        "q83_dedup_savings": q83_dedup_savings,
        "q89_bpe_token_stats": q89_bpe_token_stats,
        "q93_threshold_sweep": q93_threshold_sweep,
        "q94_cluster_quality": q94_cluster_quality,
        "q96_snippet_retrieval": q96_snippet_retrieval,
        "q97_quality_keep_policy": q97_quality_keep_policy,
        "q98_audio_duration_savings": q98_audio_duration_savings,
        "q99_repetition_filter": q99_repetition_filter,
        "q104_audio_boilerplate_intro": q104_audio_boilerplate_intro,
        "q109_event_cube_rollup": q109_event_cube_rollup,
        "q110_clips_integrity_audit": q110_clips_integrity_audit,
        "q111_event_gapfill": q111_event_gapfill,
        "q114_grouped_topk": q114_grouped_topk,
        "q118_sql_surface_pairs": q118_sql_surface_pairs,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": _Q01_SQL,
        "q02_levenshtein_pairs": _Q02_SQL,
        "q03_word_jaccard_pairs": _Q03_SQL,
        "q04_ngram_jaccard_pairs": _Q04_SQL,
        "q05_exact_dedup": _Q05_SQL,
        "q06_token_stats": _Q06_SQL,
        "q07_quality_scores": _Q07_SQL,
        "q08_fingerprint": _Q08_SQL,
        "q09_priority_revenue": _Q09_SQL,
        "q10_embedding_cosine_topk": _Q10_SQL,
        "q11_events_hourly": _Q11_SQL,
        "q12_jaro_winkler_pairs": _Q12_SQL,
        "q13_prefix_jaccard_join": _Q13_SQL,
        "q14_connected_components": _Q14_SQL,
        "q15_langid": _q15_sql(),
        "q20_multiset_measures": _Q20_SQL,
        "q21_lnorm_distances": _Q21_SQL,
        "q22_hamming_prefix": _Q22_SQL,
        "q23_damerau_pairs": _Q23_SQL,
        "q24_cosine_pairs": _Q24_SQL,
        "q25_chebyshev_pairs": _Q25_SQL,
        "q26_jaro_pairs": _Q26_SQL,
        "q27_audio_rms": _Q27_SQL,
        "q28_exact_dedup_canonical": _Q28_SQL,
        "q18_containment_pairs": _Q18_SQL,
        "q29_embedding_neardup": _Q29_SQL,
        "q30_char_cosine_pairs": _Q30_SQL,
        "q31_simhash_recall_audit": _Q31_SQL,
        "q32_audio_fingerprint_pairs": _Q32_SQL,
        "q33_ann_ivf": _Q10_SQL,  # full-probe IVF == brute force exactly
        "q34_image_phash_pairs": _Q34_SQL,
        "q35_minhash_recall_audit": _Q31_SQL,  # same brute-force truth as q31
        "q36_ann_lsh_recall_audit": _Q36_SQL,
        # q37 re-derives q04's rows through the probabilistic scale path —
        # same oracle on purpose (candidate recall 1.0 at audit scale)
        "q37_ngram_jaccard_scale": _Q04_SQL,
        "q38_char_cosine_nonascii_pairs": _Q38_SQL,
        "q39_multimodal_neardup_clusters": _Q39_SQL,
        "q40_benchmark_contamination": _Q40_SQL,
        "q41_event_sessionization": _Q41_SQL,
        "q42_train_val_split": _Q42_SQL,
        "q43_repetition_stats": _Q43_SQL,
        "q44_pii_redaction": _Q44_SQL,
        "q45_shipping_priority": _Q45_SQL,
        "q46_asof_join": _Q46_SQL,
        "q47_interval_join": _Q47_SQL,
        "q48_audio_quality": _Q48_SQL,
        "q49_dedup_cascade": _Q49_SQL,
        "q50_video_neardup": _Q50_SQL,
        "q51_audio_shift_pairs": _Q51_SQL,
        "q52_audio_resample_pairs": _Q52_SQL,
        "q53_vad_segments": _Q53_SQL,
        "q54_speech_rate": _Q54_SQL,
        "q55_stereo_downmix": _Q55_SQL,
        "q56_boilerplate_lines": _Q56_SQL,
        "q57_loudness_normalize": _Q57_SQL,
        "q58_vocabulary_head": _Q58_SQL,
        "q59_ann_quantized": _Q10_SQL,  # sound-bound quantized == brute force
        "q60_semantic_dedup": _Q60_SQL,
        "q61_tfidf_cosine_pairs": _Q61_SQL,
        "q62_unigram_nll_quality": _Q62_SQL,
        "q63_lcs_overlap_pairs": _Q63_SQL,
        "q64_hll_vocab_audit": _Q64_SQL,
        "q65_event_debounce": _Q65_SQL,
        "q66_length_profile": _Q66_SQL,
        "q67_leakage_safe_split": _Q67_SQL,
        "q68_ngram_novelty": _Q68_SQL,
        "q69_dup_cluster_histogram": _Q69_SQL,
        "q70_behavioral_neardup": _Q70_SQL,
        "q71_audio_gain_pairs": _Q71_SQL,
        "q72_cc_twostar_chains": _Q72_SQL,
        "q73_tfidf_weighted_jaccard": _Q73_SQL,
        "q74_stratified_sample": _Q74_SQL,
        "q75_mixture_rebalance": _Q75_SQL,
        "q76_wminhash_recall_audit": _Q76_SQL,
        "q77_percentile_sketch_audit": _Q77_SQL,
        "q78_sequence_packing": _Q78_SQL,
        "q79_audio_zcr_features": _Q79_SQL,
        "q80_bloom_contamination": _Q80_SQL,
        "q81_index_skew_profile": _Q81_SQL,
        "q82_source_dedup_attribution": _Q82_SQL,
        "q83_dedup_savings": _Q83_SQL,
        "q84_bbit_minhash_pairs": _Q84_SQL,
        "q85_heavy_hitters": _Q58_SQL,  # MG pass == exact top-k, proven
        "q86_audio_cdc_pairs": _Q86_SQL,
        "q87_bow_dedup_groups": _Q87_SQL,
        "q88_span_dedup_coverage": _Q88_SQL,
        "q89_bpe_token_stats": _Q89_SQL,
        "q90_crosscorpus_dedup": _Q90_SQL,
        "q91_fuzzy_editdist_join": _Q91_SQL,
        "q92_minhash_estimator_audit": _Q92_SQL,
        "q93_threshold_sweep": _Q93_SQL,
        "q94_cluster_quality": _Q94_SQL,
        "q95_suffix_array_repeats": _Q95_SQL,
        "q96_snippet_retrieval": _Q96_SQL,
        "q97_quality_keep_policy": _Q97_SQL,
        "q98_audio_duration_savings": _Q98_SQL,
        "q99_repetition_filter": _Q99_SQL,
        "q100_wer_audit": _Q100_SQL,
        "q101_audio_stretch_profile_pairs": _Q101_SQL,
        "q102_crossmodal_disagreement": _Q102_SQL,
        "q103_transcript_consensus": _Q103_SQL,
        "q104_audio_boilerplate_intro": _Q104_SQL,
        "q105_set_containment_join": _Q105_SQL,
        "q106_audio_set_minhash_pairs": _Q106_SQL,
        "q107_normalized_exact_dedup": _Q107_SQL,
        "q108_audio_loop_filter": _Q108_SQL,
        "q109_event_cube_rollup": _Q109_SQL,
        "q110_clips_integrity_audit": _Q110_SQL,
        "q111_event_gapfill": _Q111_SQL,
        "q112_audio_polarity_pairs": _Q112_SQL,
        "q113_minhash_merge_audit": _Q113_SQL,
        "q114_grouped_topk": _Q114_SQL,
        "q115_embedding_centroid_drift": _Q115_SQL,
        "q116_incremental_cc": _Q116_SQL,
        "q117_channel_layout_dedup": _Q117_SQL,
        "q118_sql_surface_pairs": _Q118_SQL,
        "q119_audio_hk_pairs": _Q119_SQL,
        "q120_audio_dtw_pairs": _Q120_SQL,
        "q121_audio_pitch_pairs": _Q121_SQL,
        "q122_audio_dedup_cascade": _Q122_SQL,
        "q123_warped_snippet_retrieval": _Q123_SQL,
        "q124_audio_echo_pairs": _Q124_SQL,
        "q125_audio_reencode_pairs": _Q125_SQL,
        "q126_audio_composite_pairs": _Q126_SQL,
        # q16/q17/q19 intentionally have no oracle: probabilistic candidate
        # membership (MinHash LSH, SimHash, RHP buckets) is not
        # SQL-expressible; the driver records rows-only checks there, and
        # q31/q35/q36 carry the oracle-checked recall evidence for each
        # pass (n_truth vs brute-force SQL, n_missed asserted 0).
    }
