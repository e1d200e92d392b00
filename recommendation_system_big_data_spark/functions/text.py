"""Text analysis over `documents.text` — SURVEY.md §2.11 op #48 + the
training-data-pipeline text surface (language-ID, quality scoring, token
counting, fingerprinting, TF-IDF).

The in-reference analogue is the comma-separated `Genres` string the anime
table carries (model-als.py:22); everything here is split/explode/agg over
built-in functions — zero Python UDFs, so the whole surface scales as plain
shuffled aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recommendation_system_big_data_spark.catalog import SESSION_CACHE, load, table_bytes
from recommendation_system_big_data_spark.registry import register

#: Tiny deterministic stopword list used by language-ID and quality scoring.
STOPWORDS = ("the", "a", "of", "and", "to")

_SW_SQL = "['the', 'a', 'of', 'and', 'to']"


def tokens(col: Column) -> Column:
    return F.split(col, " ")


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)          AS n_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_words,
           CAST(length(text) AS BIGINT)                          AS n_chars_actual
    FROM documents
    """,
    tags=("text",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex word count."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN CAST(len(list_intersect(list_distinct(string_split(text,' ')), {_SW_SQL})) AS DOUBLE)
                     / greatest(len(list_distinct(string_split(text,' '))), 1) >= 0.05
                THEN 'en' ELSE 'unk' END AS predicted_lang,
           lang AS labeled_lang
    FROM documents
    """,
    tags=("text",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram/stopword heuristic: share of distinct tokens that
    are English stopwords. (Deterministic heuristic, not a model — the
    point is the distributed shape: set-intersect per row, no shuffle.)"""
    toks = F.array_distinct(tokens(F.col("text")))
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.array_intersect(toks, sw)).cast("double") / F.greatest(
        F.size(toks), F.lit(1)
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(ratio >= 0.05, "en").otherwise("unk").alias("predicted_lang"),
        F.col("lang").alias("labeled_lang"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           ROUND(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                 / greatest(len(string_split(text,' ')), 1), 6) AS distinct_ratio,
           ROUND(CAST(len(list_intersect(list_distinct(string_split(text,' ')), {_SW_SQL})) AS DOUBLE)
                 / greatest(len(list_distinct(string_split(text,' '))), 1), 6) AS stopword_ratio,
           ROUND(CAST(length(text) AS DOUBLE) / greatest(len(string_split(text,' ')), 1), 6) AS avg_token_len,
           CAST(len(string_split(text,' ')) BETWEEN 5 AND 1000 AS BIGINT) AS len_ok
    FROM documents
    """,
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: type-token ratio, stopword ratio, mean token length,
    length gate — the standard pre-training corpus filters."""
    toks = tokens(F.col("text"))
    dtoks = F.array_distinct(toks)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_toks = F.greatest(F.size(toks), F.lit(1))
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.round(F.size(dtoks).cast("double") / n_toks, 6).alias("distinct_ratio"),
        F.round(
            F.size(F.array_intersect(dtoks, sw)).cast("double")
            / F.greatest(F.size(dtoks), F.lit(1)),
            6,
        ).alias("stopword_ratio"),
        F.round(F.length("text").cast("double") / n_toks, 6).alias("avg_token_len"),
        F.size(toks).between(5, 1000).cast("long").alias("len_ok"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
    FROM documents
    """,
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set — a
    canonical-form hash (token-order- and repetition-invariant), the
    cheap exact-near-dup key."""
    canon = F.array_join(F.array_sort(F.array_distinct(tokens(F.col("text")))), " ")
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.md5(canon.cast("binary")).alias("fingerprint")
    )


_CORPUS_PREP_ORACLE = """
WITH scored AS (
    SELECT doc_id, text, lang,
           CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
               / greatest(len(string_split(text,' ')), 1) AS distinct_ratio,
           md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fingerprint
    FROM documents
), filtered AS (
    SELECT * FROM scored
    WHERE n_tokens BETWEEN 5 AND 1000 AND distinct_ratio >= 0.1
), deduped AS (
    SELECT doc_id, lang, n_tokens, fingerprint,
           ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id ASC) AS rn
    FROM filtered
)
SELECT doc_id, lang, n_tokens, fingerprint
FROM deduped WHERE rn = 1
"""


@register("pipeline_corpus_prep", oracle=_CORPUS_PREP_ORACLE, tags=("text", "pipeline"))
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation: quality gate → canonical
    fingerprint → keep-first dedup — the composition a 100 TB text pipeline
    runs before tokenization, as ONE lazy plan (filter pushes to the scan,
    fingerprint computes once per row, dedup is a single window on the
    fingerprint key)."""
    from pyspark.sql.window import Window

    toks = tokens(F.col("text"))
    scored = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("distinct_ratio"),
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(toks)), " ").cast("binary")
        ).alias("fingerprint"),
    )
    filtered = scored.filter(
        F.col("n_tokens").between(5, 1000) & (F.col("distinct_ratio") >= 0.1)
    )
    w = Window.partitionBy("fingerprint").orderBy(F.asc("doc_id"))
    return (
        filtered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_tokens", "fingerprint")
    )


ROLLING_PRIME = 1_000_000_007
ROLLING_BASE = 131


def rolling_hash(toks: Column) -> Column:
    """Polynomial rolling hash over the token stream:
    h = (h*BASE + xxhash64(token) mod P) mod P — order-sensitive (unlike the
    canonical-form md5 fingerprint), built entirely from fold arithmetic
    that stays below 2^63 (P·BASE + P « Long.MAX), so it is ANSI-overflow-
    safe and deterministic across partitionings."""
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * ROLLING_BASE + F.pmod(F.xxhash64(t), F.lit(ROLLING_PRIME)),
            F.lit(ROLLING_PRIME),
        ),
    )


@register("text_rolling_hash", oracle=None, tags=("text",))
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint via polynomial rolling hash
    (⊘ — xxhash64 has no DuckDB twin). Gates: kernel properties in
    tests/test_text.py (equal texts collide, reordered tokens don't) and a
    sequential-Python differential replay of the full query in
    tests/test_rows_only_queries.py."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", rolling_hash(tokens(F.col("text"))).alias("rhash")
    )


@register(
    "text_tfidf",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ), df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.token, tf.tf,
           ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    WHERE tf.doc_id % 10 = 0
    """,
    tags=("text", "headline", "pure"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF via explode + two aggregations + broadcast joins (op #48).

    The document-frequency table is tiny (vocabulary-sized) and broadcast;
    the corpus-size scalar is a broadcast cross join — so the token stream
    shuffles exactly once (the tf groupBy). Output sampled to doc_id%10=0
    (same filter in the oracle) to keep the correctness diff bounded; the
    sample is applied in the tf *branch*, before its groupBy, so the tf
    shuffle carries a tenth of the token stream — while df and n_docs stay
    corpus-wide (document frequency is a corpus property, not a sample
    property)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = (
        tok.filter(F.col("doc_id") % 10 == 0)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # The document-frequency table is VOCABULARY-sized: no forced
    # broadcast (it OOMs at web-corpus vocabulary) — AQE picks the
    # strategy from runtime stats, same rule as the Naive Bayes
    # likelihood join.
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


#: BM25 (Okapi, Lucene idf form): the ranked-retrieval layer a RAG corpus
#: serves between exact dedup and embedding ANN. Standard constants.
_BM25_K1 = 1.2
_BM25_B = 0.75
#: Deterministic query workload: every stride-50 document's first 5 tokens
#: form one ad-hoc query (query_id = source doc_id; the source doc itself
#: is excluded from its results).
_BM25_STRIDE = 50
_BM25_RESIDUE = 7
_BM25_QLEN = 5
_BM25_TOP_K = 10

_BM25_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tok2 AS (
    SELECT doc_id, token FROM tok WHERE token <> ''
), postings AS (
    SELECT doc_id, token, COUNT(*) AS tf FROM tok2 GROUP BY doc_id, token
), dl AS (
    SELECT doc_id, COUNT(*) AS dl FROM tok2 GROUP BY doc_id
), stats AS (
    SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
), dfreq AS (
    SELECT token, COUNT(*) AS df FROM postings GROUP BY token
), qt AS (
    SELECT DISTINCT doc_id AS query_id,
           unnest(string_split(text, ' ')[1:{_BM25_QLEN}]) AS token
    FROM documents WHERE doc_id % {_BM25_STRIDE} = {_BM25_RESIDUE}
), qt2 AS (
    SELECT query_id, token FROM qt WHERE token <> ''
), scored AS (
    SELECT q.query_id, p.doc_id,
           ROUND(SUM(
               ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
               * p.tf * ({_BM25_K1} + 1)
               / (p.tf + {_BM25_K1}
                  * (1 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))
           ), 6) AS score
    FROM qt2 q
    JOIN postings p USING (token)
    JOIN dfreq f USING (token)
    JOIN dl d ON p.doc_id = d.doc_id
    CROSS JOIN stats s
    WHERE p.doc_id <> q.query_id
    GROUP BY q.query_id, p.doc_id
), ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id ASC
           ) AS rn
    FROM scored
)
SELECT query_id, doc_id, score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_BM25_TOP_K}
"""


def bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's persisted BM25 inverted index, built once per session
    and corpus (``catalog.SESSION_CACHE``; its fingerprint is the nested
    ``load`` of ``documents``, so a rewritten corpus rebuilds it). One row
    per posting of a non-empty token, ``(token, doc_id, tf)``, with the
    document's length ``dl``, the token's document frequency ``df`` and
    the corpus stats ``n_docs`` / ``avgdl`` (over documents with at least
    one token) carried alongside — everything a query's scoring join reads.

    Layout: a persisted plan keeps its output partitioning
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is off),
    so the index is coalesced to one partition per
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` of the corpus at
    rest, at least one: every call scans as many partitions as the
    corpus's size needs, not ``spark.sql.shuffle.partitions``. dl and df
    are windows over the postings, not joins: the persisted plan holds
    every broadcast relation it built for as long as it is cached (~21 MB
    of driver heap for two hash-join relations of a few hundred rows)."""

    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        postings = (
            docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
            .where(F.col("token") != "")
            .groupBy("token", "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        stats = (
            postings.groupBy("doc_id")
            .agg(F.sum("tf").alias("dl"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"), F.avg("dl").alias("avgdl"))
        )
        advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
        parts = max(1, -(-table_bytes(sf_dir, "documents") // advisory))
        return (
            postings.select(
                "token",
                "doc_id",
                "tf",
                F.sum("tf").over(Window.partitionBy("doc_id")).alias("dl"),
                F.count(F.lit(1)).over(Window.partitionBy("token")).alias("df"),
            )
            .crossJoin(F.broadcast(stats))
            .coalesce(parts)
            .persist()
        )

    return SESSION_CACHE.get(spark, ("bm25_index", sf_dir), build)


@register("text_bm25_retrieval", oracle=_BM25_ORACLE, tags=("text", "similarity", "pure"))
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval over an inverted index — the lexical
    search layer of a RAG stack (between exact dedup and embedding ANN;
    text_tfidf weighs terms, this RANKS documents for queries). The query
    workload is deterministic: each stride-50 document's first 5 tokens
    become one ad-hoc query; its own source doc is excluded.

    The corpus side is the session's held `bm25_index` (postings with
    dl, df and the corpus stats alongside), so the plan reads only files
    and persisted frames and the registry prepares it (tagged pure). Each
    call scans ``documents``, tokenises the query docs, joins their terms
    to the index, sums the BM25 contributions per (query, doc) — per-query
    cost is Σ df over its terms, never a corpus scan — rounds, and keeps
    the top 10 per query with a rank-filtered window (WindowGroupLimit
    pushes the k=10 limit into the sort). Lucene's +1-inside-the-log idf
    keeps scores positive for df > n/2 terms."""
    docs = load(spark, sf_dir, "documents")
    qtok = (
        docs.where(F.col("doc_id") % _BM25_STRIDE == _BM25_RESIDUE)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(tokens(F.col("text")), 1, _BM25_QLEN)).alias(
                "token"
            ),
        )
        .where(F.col("token") != "")
        .distinct()
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    contrib = (
        idf
        * F.col("tf")
        * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        qtok.join(bm25_index(spark, sf_dir), "token")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= _BM25_TOP_K)
        .select("query_id", "doc_id", "score", "rn")
    )


@register(
    "text_bigram_freq",
    oracle="""
    WITH toks AS (
        SELECT string_split(text, ' ') AS l FROM documents
    ), bg AS (
        SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS bigram
        FROM toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
    tags=("text",),
)
def text_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams: adjacent-token pairs generated inside the
    array domain (transform over an index sequence — no self-join of the
    token stream on position, which is the naive relational spelling and a
    full extra shuffle), then one explode + one map-side-combined count.
    The TakeOrderedAndProject top-20 avoids a global sort."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("l"))
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 1),"
                " i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


_WINNOW_ORACLE = """
WITH shl AS (
    SELECT doc_id,
           list_transform(
               generate_series(1, greatest(len(string_split(text,' ')) - 2, 1)),
               i -> concat_ws(' ', string_split(text,' ')[i],
                                   string_split(text,' ')[i+1],
                                   string_split(text,' ')[i+2])) AS sh
    FROM documents
), hashed AS (
    SELECT doc_id,
           generate_subscripts(sh, 1) AS pos,
           CAST(('0x' || substr(md5(unnest(sh)), 1, 8)) AS BIGINT) AS h
    FROM shl
), wmin AS (
    SELECT doc_id, pos,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
    FROM hashed
)
SELECT doc_id,
       COUNT(DISTINCT fp) AS n_fingerprints,
       MIN(fp)            AS min_fp,
       MAX(fp)            AS max_fp
FROM wmin
WHERE pos >= 4
GROUP BY doc_id
"""


@register("text_winnowing_fingerprint", oracle=_WINNOW_ORACLE, tags=("text",))
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every POSITIONAL 3-gram (no dedup — positions matter),
    slide a window of 4 consecutive hashes, keep each window's minimum.
    The selected set is guaranteed to share a fingerprint with any copy of
    a sufficiently long passage, at ~2/(w+1) of the k-gram density — the
    plagiarism/near-dup detector that works on PARTIAL overlap, which
    whole-document MinHash misses.

    Plan: posexplode → portable md5 bucket (same hash DuckDB computes, so
    the fingerprint SET is engine-checkable, not just its size) → one
    windowed min per doc (single shuffle on doc_id) → per-doc distinct
    rollup. At 100 TB the fingerprint stream feeds the same inverted-index
    join as dedup_ngram_jaccard, at a w-th of the postings."""
    from recommendation_system_big_data_spark.operators.sampling import (
        portable_bucket,
    )
    from pyspark.sql.window import Window

    # Spread docs across the cluster BEFORE the per-shingle md5: the
    # repartition is one thin shuffle of raw text that buys full
    # parallelism for the hash-heavy explode (and locally defeats the
    # driver testdata's single-row-group files, which would otherwise pin
    # all hashing to one task). Same pattern as dedup._shingled.
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition("doc_id")
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
    positional = docs.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("toks") - 3, F.lit(0))),
            lambda i: F.concat_ws(
                " ", F.get("toks", i), F.get("toks", i + 1), F.get("toks", i + 2)
            ),
        ).alias("sh"),
    )
    hashed = positional.selectExpr("doc_id", "posexplode(sh) AS (pos, shingle)").select(
        "doc_id", "pos", portable_bucket(F.col("shingle"), 1 << 62).alias("h")
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    return (
        hashed.withColumn("fp", F.min("h").over(w))
        .filter(F.col("pos") >= 3)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("fp").alias("n_fingerprints"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
    )


_TRAINING_MIX_ORACLE = """
WITH RECURSIVE scored AS (
    SELECT doc_id, text, lang,
           CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
               / greatest(len(string_split(text,' ')), 1) AS distinct_ratio,
           md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fingerprint
    FROM documents
), filtered AS (
    SELECT * FROM scored
    WHERE n_tokens BETWEEN 5 AND 1000 AND distinct_ratio >= 0.1
), deduped AS (
    SELECT doc_id, lang, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id ASC) AS rn
    FROM filtered
), prep AS (
    SELECT doc_id, lang, n_tokens FROM deduped WHERE rn = 1
), sh AS (
    SELECT doc_id, lang,
           list_distinct(list_transform(
               generate_series(1, greatest(len(string_split(text,' ')) - 2, 1)),
               i -> concat_ws(' ', string_split(text,' ')[i],
                                   string_split(text,' ')[i+1],
                                   string_split(text,' ')[i+2]))) AS sh
    FROM documents
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND len(a.sh) <= 2 * len(b.sh) AND len(b.sh) <= 2 * len(a.sh)
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
), reach(node, lbl) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
    SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
), member AS (
    SELECT p.doc_id, p.lang, p.n_tokens, c.component
    FROM prep p JOIN comp c ON p.doc_id = c.node
), keepers AS (
    SELECT component, MIN(doc_id) AS keeper FROM member GROUP BY component
), keep AS (
    SELECT p.doc_id, p.lang, p.n_tokens
    FROM prep p LEFT JOIN comp c ON p.doc_id = c.node
    WHERE c.node IS NULL
    UNION ALL
    SELECT m.doc_id, m.lang, m.n_tokens
    FROM member m JOIN keepers k
      ON m.component = k.component AND m.doc_id = k.keeper
)
SELECT lang,
       CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM keep
GROUP BY lang, split
"""


@register("pipeline_training_mix", oracle=_TRAINING_MIX_ORACLE, tags=("text", "pipeline"))
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data assembly line, composed from the engine's own
    operators: quality gate + exact dedup (pipeline_corpus_prep) → NEAR-dup
    cluster removal keeping each cluster's minimum SURVIVING member
    (dedup_cluster_components labels with the component minimum over ALL
    docs, but that doc may itself have failed the quality gate — electing
    the keeper among gate survivors guarantees every cluster with any
    surviving member keeps exactly one, never zero) → deterministic hash
    split (split_by_hash's portable bucket) → per-(lang, split) doc and
    token accounting. One oracle checks the entire composition end-to-end,
    recursive closure included.

    This is the query a 100 TB corpus runs nightly: every stage is a
    shuffle-bounded operator already profiled in SCALING.md; composing
    them adds NO driver-side materialization — the only loop is the CC
    fixpoint, whose rounds are dup-cluster-diameter bounded."""
    from recommendation_system_big_data_spark.operators.dedup import (
        dedup_cluster_components,
    )
    from recommendation_system_big_data_spark.operators.sampling import (
        portable_bucket,
    )

    prep = pipeline_corpus_prep(spark, sf_dir).select("doc_id", "lang", "n_tokens")
    comp = dedup_cluster_components(spark, sf_dir)
    member = prep.join(comp, prep["doc_id"] == comp["doc_id"]).select(
        prep["doc_id"], "lang", "n_tokens", "component"
    )
    keepers = member.groupBy("component").agg(F.min("doc_id").alias("keeper"))
    clustered_keep = (
        member.join(keepers, "component")
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "lang", "n_tokens")
    )
    unclustered = prep.join(
        comp, prep["doc_id"] == comp["doc_id"], "left_anti"
    ).select("doc_id", "lang", "n_tokens")
    keep = unclustered.unionByName(clustered_keep)
    bucket = portable_bucket(F.col("doc_id"), 100)
    return (
        keep.withColumn(
            "split",
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


_PERPLEXITY_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), vocab AS (
    SELECT token, COUNT(*) AS c FROM tok GROUP BY token
), total AS (
    SELECT CAST(SUM(c) AS DOUBLE) AS n FROM vocab
)
SELECT tok.doc_id,
       COUNT(*) AS n_tokens,
       ROUND(AVG(-ln(vocab.c / total.n)), 6) AS avg_neg_logp
FROM tok JOIN vocab ON tok.token = vocab.token CROSS JOIN total
GROUP BY tok.doc_id
"""


@register("text_unigram_surprisal", oracle=_PERPLEXITY_ORACLE, tags=("text",))
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality signal: mean unigram surprisal −ln p(token)
    under the corpus's own unigram LM — the cheap stand-in for the
    model-based perplexity filters used to score pre-training text (high
    surprisal ⇒ rare-token soup / noise; near-zero ⇒ repetitive boiler-
    plate; both are removal candidates).

    Same plan skeleton as TF-IDF: one token-stream aggregate builds the
    vocabulary, which joins back onto the stream together with the 1-row
    total, then one per-doc aggregate. Two shuffles total; the LM
    "training" and the scoring share a single corpus scan's worth of
    tokens. Per-doc averages of a few hundred doubles sit far inside
    ROUND(,6) tolerance.

    The vocabulary broadcast is size-gated on the source corpus footprint
    (VERDICT r2 #3): a 100 TB corpus's unigram vocabulary easily reaches
    10^8-10^9 rows, which an unconditional `F.broadcast` would ship to —
    and OOM — the driver. Small corpus → hint; large corpus → no hint, the
    token/vocab shuffle join is on the same `token` key as the vocabulary
    aggregate itself, so the exchange is reused, and AQE may still pick a
    runtime broadcast if the *actual* vocab turns out small. The 1-row
    `total` broadcast is unconditionally safe."""
    from recommendation_system_big_data_spark.catalog import maybe_broadcast

    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n"))
    return (
        tok.join(maybe_broadcast(vocab, sf_dir, "documents"), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 6).alias(
                "avg_neg_logp"
            ),
        )
    )


_CCNET_BUCKETS_ORACLE = f"""
WITH scored AS (
{_PERPLEXITY_ORACLE}
), lbl AS (
    SELECT s.doc_id, d.lang, s.n_tokens, s.avg_neg_logp,
           NTILE(3) OVER (PARTITION BY d.lang
                          ORDER BY s.avg_neg_logp, s.doc_id) AS q
    FROM scored s JOIN documents d USING (doc_id)
)
SELECT lang,
       CASE q WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS bucket,
       COUNT(*) AS n_docs,
       ROUND(AVG(avg_neg_logp), 6) AS avg_surprisal,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM lbl
GROUP BY lang, q
"""


@register(
    "text_ccnet_quality_buckets",
    oracle=_CCNET_BUCKETS_ORACLE,
    tags=("text", "pipeline"),
)
def text_ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus partition: per language, split documents into
    head / middle / tail terciles of LM surprisal (CCNet routes crawl
    text by in-language perplexity; head = most fluent third, the slice
    pre-training pipelines keep or upsample). Emits the routing table —
    per (lang, bucket) doc counts, mean surprisal, token mass — the
    artifact a mixing stage consumes.

    Built ON the engine's own surprisal operator (text_unigram_surprisal:
    two shuffles, vocabulary broadcast size-gated), then ONE ntile window
    per language and one aggregate on the same (lang) grain — the window
    partitioning clusters by lang, and groupBy(lang, q) is a superset
    key, so Spark plans no exchange between them. Ordering ties are
    broken by doc_id on BOTH engines, and the ordering key is the
    ROUND(,6) score the oracle already hash-matches, so tercile
    boundaries are bit-stable across engines."""
    scored = text_unigram_surprisal(spark, sf_dir)
    lang = load(spark, sf_dir, "documents").select("doc_id", "lang")
    lbl = scored.join(lang, "doc_id").withColumn(
        "q",
        F.ntile(3).over(
            Window.partitionBy("lang").orderBy("avg_neg_logp", "doc_id")
        ),
    )
    return (
        lbl.groupBy("lang", "q")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_neg_logp"), 6).alias("avg_surprisal"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            "lang",
            F.when(F.col("q") == 1, "head")
            .when(F.col("q") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "avg_surprisal",
            "total_tokens",
        )
    )


_CHUNK_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), chunks AS (
    SELECT doc_id,
           i AS chunk_id,
           t[(i * 48 + 1):(i * 48 + 64)] AS chunk
    FROM toks,
         UNNEST(generate_series(0,
             CAST(CEIL(GREATEST(len(t) - 16, 1) / 48.0) AS BIGINT) - 1)) AS g(i)
)
SELECT doc_id, chunk_id,
       CAST(len(chunk) AS BIGINT) AS n_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM chunks
"""


@register("text_chunk_documents", oracle=_CHUNK_ORACLE, tags=("text", "pipeline"))
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the split-for-context-length step
    of every LLM training pipeline: 64-token chunks with a 16-token
    overlap (stride 48), each chunk identified by (doc_id, chunk_id) and
    content-hashed so downstream exact-dedup can run at CHUNK granularity
    (near-dup docs often share most chunks — chunk-level dedup is how
    pipelines deduplicate partially-overlapping crawls).

    One explode over computed chunk indices + a per-chunk array slice:
    all JVM higher-order functions, no UDF, no shuffle — chunking is a
    pure flatMap-shaped projection, so it scales with the scan. The
    chunk COUNT comes from ceil((n-overlap)/stride) so the final partial
    window is emitted once (not both a full and a dangling tail)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n_chunks = F.ceil(
        F.greatest(F.size("t") - 16, F.lit(1)).cast("double") / 48.0
    ).cast("long")
    chunked = docs.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_i"),
        F.col("t"),
    ).select(
        "doc_id",
        "chunk_id",
        # 1-based slice start, matching DuckDB list slicing semantics.
        F.slice(F.col("t"), F.col("chunk_id") * 48 + 1, 64).alias("chunk"),
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.array_join("chunk", " ").cast("binary")).alias("chunk_hash"),
    )


_URL_NORM_ORACLE = """
WITH raw AS (
    SELECT doc_id,
           'HTTPS://Example' || CAST(doc_id % 3 AS VARCHAR)
               || '.COM/Path/' || CAST(doc_id % 100 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 2 = 0
                       THEN '?utm_source=feed&utm_campaign=x&id='
                            || CAST(doc_id % 100 AS VARCHAR)
                       WHEN doc_id % 5 = 0
                       THEN '?id=' || CAST(doc_id % 100 AS VARCHAR)
                            || '&utm_medium=mail'
                       ELSE '' END AS url
    FROM documents
), canon AS (
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(lower(url), '^https?://', ''),
                       'utm_[a-z]+=[^&]*&?', '', 'g'),
                   '[?&]$', ''),
               '/$', '') AS canonical
    FROM raw
)
SELECT canonical,
       COUNT(*) AS n_urls,
       MIN(doc_id) AS keeper_doc
FROM canon GROUP BY canonical HAVING COUNT(*) > 1
"""


@register("text_url_normalize_dedup", oracle=_URL_NORM_ORACLE, tags=("text",))
def text_url_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + exact dedup — the CommonCrawl-style first
    pass of a web-scrape pipeline: the same page arrives under
    scheme/case variants, trailing slashes, and tracking parameters, and
    canonicalizing BEFORE the content-hash dedup removes the bulk of
    duplicates at string cost instead of shingling cost.

    URLs are synthesized deterministically from doc_id (the corpus has no
    URL column), with planted variant classes: mixed-case scheme+host,
    trailing slash (every 3rd), utm_* tracking params (every 2nd), and a
    legitimate id param that must SURVIVE normalization while utm_* dies.
    Normalization is four regexp_replace passes — scheme strip, lowercase,
    utm param removal, trailing ?&/ cleanup — all codegen'd JVM string
    ops, one map stage; the dedup is one hash aggregate on the canonical
    key with MIN(doc_id) as the deterministic keeper. Output: duplicate
    groups only (HAVING n > 1)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("HTTPS://Example"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".COM/Path/"),
        (F.col("doc_id") % 100).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_campaign=x&id="),
                (F.col("doc_id") % 100).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("?id="),
                (F.col("doc_id") % 100).cast("string"),
                F.lit("&utm_medium=mail"),
            ),
        )
        .otherwise(F.lit("")),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), r"^https?://", ""),
                r"utm_[a-z]+=[^&]*&?",
                "",
            ),
            r"[?&]$",
            "",
        ),
        r"/$",
        "",
    )
    return (
        docs.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .filter(F.col("n_urls") > 1)
    )


_READABILITY_ORACLE = """
WITH counted AS (
    SELECT doc_id, lang,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_words,
           CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
               AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS n_syllables
    FROM documents
    WHERE len(trim(text)) > 0
)
SELECT doc_id, lang, n_words, n_sentences, n_syllables,
       ROUND(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
           AS flesch_score
FROM counted
WHERE n_words > 0
"""


@register("text_readability_score", oracle=_READABILITY_ORACLE, tags=("text", "quality"))
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the readability rung of the
    quality-signal ladder (alongside the Gopher rules and unigram
    surprisal above): 206.835 − 1.015·(words/sentence) − 84.6·(syllables/
    word). Readability scores are standard corpus-curation features —
    extremely low scores flag boilerplate/code/gibberish, and the score is
    a common stratification key for curriculum mixes.

    Syllables are approximated as vowel-group runs ([aeiouy]+) — the
    standard regex proxy; sentence count clamps to ≥1 so punctuation-free
    documents score rather than divide by zero. Everything is codegen'd
    JVM string ops over one scan (regexp_extract_all + size — no UDF, no
    shuffle at all: a pure map-stage feature extractor that composes with
    any downstream gate). The identical regexes run on both engines; the
    arithmetic is the same IEEE expression, ROUND(4) for display only."""
    txt = F.col("text")
    counted = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim(txt)) > 0)
        .select(
            "doc_id",
            "lang",
            F.size(F.split(F.trim(txt), r"\s+")).cast("long").alias("n_words"),
            F.greatest(
                F.size(F.regexp_extract_all(txt, F.lit("[.!?]+"), 0)), F.lit(1)
            ).cast("long").alias("n_sentences"),
            F.size(
                F.regexp_extract_all(F.lower(txt), F.lit("[aeiouy]+"), 0)
            ).cast("long").alias("n_syllables"),
        )
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return counted.filter(F.col("n_words") > 0).select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(flesch, 4).alias("flesch_score"),
    )


#: Bigram LM pruning: keep predictions with at least this many
#: observations and report the top-N next words per context.
_BIGRAM_MIN_COUNT = 10
_BIGRAM_TOP_N = 3

_BIGRAM_LM_ORACLE = f"""
WITH toks AS (
    SELECT string_split_regex(trim(text), '\\s+') AS t
    FROM documents WHERE len(trim(text)) > 0
), pairs AS (
    SELECT z[1] AS w1, z[2] AS w2
    FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z FROM toks)
), cnt AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
    FROM pairs GROUP BY w1, w2
), ctx AS (
    SELECT w1, SUM(c12) AS c1 FROM cnt GROUP BY w1
), ranked AS (
    SELECT cnt.w1, cnt.w2, cnt.c12,
           ROUND(cnt.c12 / ctx.c1, 6) AS p_next,
           ROW_NUMBER() OVER (
               PARTITION BY cnt.w1 ORDER BY cnt.c12 DESC, cnt.w2 ASC
           ) AS rn
    FROM cnt JOIN ctx ON cnt.w1 = ctx.w1
    WHERE cnt.c12 >= {_BIGRAM_MIN_COUNT}
)
SELECT w1, w2, c12, p_next, CAST(rn AS BIGINT) AS rank_pos
FROM ranked WHERE rn <= {_BIGRAM_TOP_N}
"""


@register("text_bigram_lm", oracle=_BIGRAM_LM_ORACLE, tags=("text", "ml"))
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a pruned bigram language model from the corpus: P(next word |
    word) with top-_BIGRAM_TOP_N predictions per context, min count
    {_BIGRAM_MIN_COUNT}. The conditional-probability companion of
    text_unigram_surprisal's marginals — the artifact behind classic
    autocomplete, OOV detection, and cheap LM-based quality filters
    (documents whose transitions are improbable under the corpus LM are
    boilerplate or gibberish candidates).

    Bigram extraction never self-joins: zip_with pairs each token array
    with its own tail INSIDE the row (array ops in the map stage), then
    one explode → one groupBy. The context totals re-aggregate the
    bigram counts (not the raw pairs), and the min-count prune applies
    before the ranking window, so the window input is the pruned model,
    not the corpus. Shuffles: pair counts, context counts, ranking — all
    keyed on words (Zipf-skewed: hot contexts are exactly what AQE's
    skew-split handles; the prune also removes the long tail before the
    window sort)."""
    toks = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(F.split(F.trim("text"), r"\s+").alias("t"))
    )
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("z")
    ).select("z.w1", "z.w2")
    cnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = cnt.groupBy("w1").agg(F.sum("c12").alias("c1"))
    w = Window.partitionBy("w1").orderBy(F.desc("c12"), F.asc("w2"))
    return (
        cnt.filter(F.col("c12") >= _BIGRAM_MIN_COUNT)
        .join(ctx, "w1")
        .select(
            "w1",
            "w2",
            "c12",
            F.round(F.col("c12") / F.col("c1"), 6).alias("p_next"),
            F.row_number().over(w).alias("rank_pos"),
        )
        .filter(F.col("rank_pos") <= _BIGRAM_TOP_N)
        .select("w1", "w2", "c12", "p_next", F.col("rank_pos").cast("long").alias("rank_pos"))
    )


_ZIPF_ORACLE = """
WITH tok AS (
    SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
), freq AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM tok WHERE token <> '' GROUP BY token
), ranked AS (
    SELECT token, n,
           ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rnk
    FROM freq
)
SELECT CAST((SELECT COUNT(*) FROM freq) AS BIGINT) AS n_types,
       CAST((SELECT SUM(n) FROM freq) AS BIGINT) AS n_tokens,
       ROUND(REGR_SLOPE(LN(n), LN(rnk)), 4) AS zipf_slope,
       ROUND(REGR_R2(LN(n), LN(rnk)), 4) AS fit_r2
FROM ranked WHERE rnk <= 500
"""


@register("text_zipf_fit", oracle=_ZIPF_ORACLE, tags=("text",))
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: log-log regression of
    frequency on rank across the top-500 types. Natural text sits near
    slope −1 with high R²; template-generated or deduplicated-to-death
    corpora drift toward flat/steep slopes — a one-row corpus health
    signal alongside pipeline_quality_dashboard's per-source metrics.

    The top-500 selection is ``orderBy(...).limit(500)`` — Spark plans
    TakeOrderedAndProject (per-partition heap of 500, one 500-row merge
    on the driver side of the exchange), so NO stage sorts the full
    vocabulary; only the 500 survivors see a row_number window (bounded,
    single cheap task). The vocabulary grows with corpus size, so the
    previous global ``row_number().over(Window.orderBy(...))`` funneled
    the whole type table through one task (VERDICT r13 "What's wrong"
    #3). regr_slope/regr_r2 are the same least-squares estimator in both
    engines; ROUND(4) absorbs summation order. Tie-break rank by
    (n DESC, token ASC) so equal-frequency types rank identically
    everywhere — ln(rank) makes rank order PART OF THE VALUE, not just
    presentation."""
    freq = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = freq.agg(
        F.count(F.lit(1)).alias("n_types"), F.sum("n").alias("n_tokens")
    )
    top500 = freq.orderBy(F.desc("n"), F.asc("token")).limit(500)
    ranked = top500.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("token")))
        .alias("rnk"),
    )
    fit = ranked.agg(
        F.round(F.regr_slope(F.ln("n"), F.ln("rnk")), 4).alias("zipf_slope"),
        F.round(F.regr_r2(F.ln("n"), F.ln("rnk")), 4).alias("fit_r2"),
    )
    return totals.crossJoin(F.broadcast(fit)).select(
        "n_types", "n_tokens", "zipf_slope", "fit_r2"
    )


_CODE_DETECT_ORACLE = """
WITH feats AS (
    SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n_chars,
           length(regexp_replace(text, '[^{};()=<>\\[\\]]', '', 'g'))
               AS n_code_chars,
           len(regexp_extract_all(text, '(def |class |import |return |;$)'))
               AS n_code_tokens,
           len(string_split(text, ' ')) AS n_words
    FROM documents
)
SELECT doc_id,
       ROUND(n_code_chars / GREATEST(n_chars, 1), 6) AS symbol_density,
       CAST(n_code_tokens AS BIGINT) AS code_token_hits,
       CASE WHEN n_code_chars / GREATEST(n_chars, 1) > 0.02
              OR n_code_tokens >= 2
            THEN 'code' ELSE 'prose' END AS detected_kind
FROM feats
"""


@register("text_code_detection", oracle=_CODE_DETECT_ORACLE, tags=("text",))
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection: symbol density ({};()=<>[] per char) plus
    code-keyword hits — the routing signal a pretraining pipeline uses
    to send documents down the code or natural-language branch (different
    dedup thresholds, different quality filters, different tokenizer).
    A deterministic heuristic like `text_lang_id`, and like it the point
    is the distributed shape: two regexp folds per row, shuffle-free,
    classification in a codegen'd CASE.

    The thresholds are conservative (symbol-heavy math prose can cross
    2%) — production stacks calibrate them per corpus with
    `ml_eval_confusion` over a labeled sample, which is exactly the
    composition this engine ships."""
    t = load(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("double")
    n_code_chars = F.length(
        F.regexp_replace("text", r"[^{};()=<>\[\]]", "")
    )
    n_code_tokens = F.size(
        F.expr("regexp_extract_all(text, '(def |class |import |return |;$)', 1)")
    )
    density = n_code_chars / F.greatest(n_chars, F.lit(1.0))
    return t.select(
        "doc_id",
        F.round(density, 6).alias("symbol_density"),
        n_code_tokens.cast("long").alias("code_token_hits"),
        F.when((density > 0.02) | (n_code_tokens >= 2), "code")
        .otherwise("prose")
        .alias("detected_kind"),
    )


_PMI_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), bigrams AS (
    SELECT LOWER(ts[i]) AS w1, LOWER(ts[i + 1]) AS w2
    FROM toks, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
    WHERE ts[i] <> '' AND ts[i + 1] <> ''
), big_counts AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
    FROM bigrams GROUP BY w1, w2
), uni AS (
    SELECT w1 AS w, CAST(COUNT(*) AS BIGINT) AS c FROM bigrams GROUP BY w1
), tot AS (
    SELECT CAST(SUM(c12) AS DOUBLE) AS n FROM big_counts
)
SELECT b.w1, b.w2, b.c12,
       ROUND(LN((b.c12 / t.n) / ((u1.c / t.n) * (u2.c / t.n))), 4) AS pmi
FROM big_counts b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2
CROSS JOIN tot t
WHERE b.c12 >= 5
ORDER BY pmi DESC, b.w1, b.w2
LIMIT 50
"""


@register("text_collocations_pmi", oracle=_PMI_ORACLE, tags=("text",))
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by pointwise mutual information —
    PMI = ln p(w₁w₂)/(p(w₁)p(w₂)) over the corpus bigram stream: the
    association score behind multi-word-expression mining, tokenizer
    merge candidates, and stop-phrase lists (raw bigram FREQUENCY,
    `text_bigram_freq`, surfaces "of the"; PMI surfaces the pairs that
    belong together). Min-count 5 kills the low-frequency PMI explosion.

    In-row zip_with pairs the token stream (no self-join — same trick as
    text_bigram_lm), bigram and unigram marginals are two groupBys of
    the same stream, the PMI fold joins counts on their keys, and the
    top-50 is TakeOrderedAndProject with a total tiebreak. Counts are
    exact integers; one ln at the end, ROUND(4)."""
    toks = load(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("ts")
    )
    bigrams = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice("ts", 1, F.greatest(F.size("ts") - 1, F.lit(0))),
                    F.slice(
                        "ts", 2, F.greatest(F.size("ts") - 1, F.lit(0))
                    ),
                    lambda a, b: F.struct(
                        F.lower(a).alias("w1"), F.lower(b).alias("w2")
                    ),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    big_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    uni = bigrams.groupBy(F.col("w1").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = big_counts.agg(F.sum("c12").cast("double").alias("n"))
    p12 = F.col("c12") / F.col("n")
    p1 = F.col("u1c") / F.col("n")
    p2 = F.col("u2c") / F.col("n")
    return (
        big_counts.where(F.col("c12") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("u1c")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("u2c")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(F.log(p12 / (p1 * p2)), 4).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(50)
    )


#: 4 fixed ±1 hyperplanes over the 16 pseudo-embedding dims (sign-LSH).
_RAG_PLANES = (
    (1, -1, 1, 1, -1, 1, -1, -1, 1, 1, -1, 1, -1, -1, 1, -1),
    (-1, 1, 1, -1, 1, -1, 1, -1, -1, 1, 1, -1, 1, -1, -1, 1),
    (1, 1, -1, -1, 1, 1, -1, 1, -1, -1, 1, -1, -1, 1, 1, -1),
    (-1, -1, 1, 1, 1, -1, -1, 1, 1, -1, -1, 1, 1, 1, -1, -1),
)


def _rag_dim_sql(i: int) -> str:
    """DuckDB expression for pseudo-embedding dim i of a chunk string
    `ch`: portable md5 bucket of (chunk, dim) scaled into [-1, 1)."""
    return (
        f"(CAST(('0x' || substr(md5(ch || '_d{i}'), 1, 8)) AS BIGINT)"
        f" % 2000) / 1000.0 - 1.0"
    )


def _rag_prep_oracle() -> str:
    dims = ",\n           ".join(f"{_rag_dim_sql(i)} AS e{i}" for i in range(16))
    bits = []
    for j, plane in enumerate(_RAG_PLANES):
        dot = " + ".join(
            f"({w}) * e{i}" for i, w in enumerate(plane)
        )
        bits.append(f"CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END")
    bucket = " + ".join(bits)
    return f"""
WITH docs AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), chunked AS (
    SELECT doc_id, g.i - 1 AS chunk_id,
           array_to_string(t[(g.i - 1) * 48 + 1 : (g.i - 1) * 48 + 64], ' ')
               AS ch
    FROM docs,
         UNNEST(generate_series(
             1, CAST(CEIL(GREATEST(len(t) - 16, 1) / 48.0) AS BIGINT)
         )) AS g(i)
), embedded AS (
    SELECT doc_id, chunk_id, ch,
           {dims}
    FROM chunked
), bucketed AS (
    SELECT doc_id, chunk_id, length(ch) AS chunk_chars,
           {bucket} AS bucket
    FROM embedded
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       ROUND(AVG(CAST(chunk_chars AS DOUBLE)), 4) AS avg_chunk_chars
FROM bucketed GROUP BY bucket
"""


@register("pipeline_rag_prep", oracle=_rag_prep_oracle(), tags=("text", "pipeline"))
def pipeline_rag_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG corpus preparation end to end: chunk (64-token windows, stride
    48 — text_chunk_documents' geometry) → embed → sign-LSH bucket →
    per-bucket index stats. The retrieval-index build that pairs with
    the ANN query side (`sim_topk_lsh`): buckets here ARE the posting
    lists a query probes.

    The embedding step uses a deterministic 16-dim hash embedding
    (portable md5 bucket per (chunk, dim), scaled to [−1,1)) — a stand-in
    with the exact schema/partitioning/arithmetic of a model embedding
    but reproducible in ANY engine, which buys what a real encoder
    can't: the ENTIRE pipeline, LSH bucketing included, is
    oracle-checkable (the SQL oracle regenerates all 16 dims and all 4
    hyperplane dot products from the same literals). Swap the hash dims
    for a Pandas-UDF encoder batch and nothing downstream changes shape.

    Plan: chunking is an in-row explode (no shuffle); dims and sign bits
    are codegen'd arithmetic; the only exchange is the final groupBy on
    the 16-value bucket key."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n_chunks = F.ceil(
        F.greatest(F.size("t") - 16, F.lit(1)).cast("double") / 48.0
    ).cast("long")
    chunked = docs.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_i"),
        "t",
    ).select(
        "doc_id",
        "chunk_id",
        F.array_join(
            F.slice(F.col("t"), F.col("chunk_id") * 48 + 1, 64), " "
        ).alias("ch"),
    )
    dims = [
        (
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.col("ch"), F.lit(f"_d{i}"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2000
            )
            / 1000.0
            - 1.0
        ).alias(f"e{i}")
        for i in range(16)
    ]
    embedded = chunked.select("doc_id", "chunk_id", F.length("ch").alias("chunk_chars"), *dims)
    bucket = None
    for j, plane in enumerate(_RAG_PLANES):
        dot = None
        for i, w in enumerate(plane):
            term = F.lit(float(w)) * F.col(f"e{i}")
            dot = term if dot is None else dot + term
        bit = F.when(dot > 0, 1 << j).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    return (
        embedded.select(
            "doc_id", "chunk_chars", bucket.cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.round(F.avg(F.col("chunk_chars").cast("double")), 4).alias(
                "avg_chunk_chars"
            ),
        )
    )


#: Training-sequence token budget for pipeline_sequence_packing. Chosen
#: near the corpus mean doc length so sequences typically span document
#: boundaries — the case the packing accounting exists to get right.
_PACK_SEQ_LEN = 64

_PACKING_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
), o AS (
    SELECT doc_id, source, n_tok,
           CAST(SUM(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tok AS BIGINT) AS strt
    FROM t
), s AS (
    SELECT source, doc_id, n_tok, strt,
           unnest(generate_series(strt // {_PACK_SEQ_LEN},
                                  (strt + n_tok - 1) // {_PACK_SEQ_LEN}))
               AS seq_id
    FROM o
)
SELECT source,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEAST(strt + n_tok, (seq_id + 1) * {_PACK_SEQ_LEN})
                - GREATEST(strt, seq_id * {_PACK_SEQ_LEN})) AS BIGINT)
           AS n_tokens,
       MIN(doc_id) AS first_doc_id,
       MAX(doc_id) AS last_doc_id
FROM s
GROUP BY source, seq_id
"""


@register(
    "pipeline_sequence_packing",
    oracle=_PACKING_ORACLE,
    tags=("text", "pipeline"),
)
def pipeline_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the step between a curated
    corpus and a training run: documents are concatenated in a
    deterministic shard order (per source, by doc_id — re-ingestion
    stable) and the token stream is cut into fixed 64-token training
    sequences. Output is the packing ACCOUNTING per (source, seq_id):
    how many documents contribute, how many tokens land in the sequence
    (= budget except each source's final remainder), and the first/last
    contributing doc — what a data loader needs to seek any sequence
    without materializing the token stream.

    Plan: one running-sum window per source gives each doc its stream
    offset; a doc then spans sequences floor(start/L)..floor((end-1)/L),
    emitted by an explode over that (usually 1-2 element) range; one
    aggregate on (source, seq_id) with the per-sequence overlap length
    computed in codegen. Two keyed shuffles total, no token
    materialization — the packed sequences themselves are a downstream
    gather; this operator is the index that makes the gather
    partition-local. At 100 TB the window partitions by (source, shard)
    instead of source alone so no single source serializes a window
    scan; the seq_id arithmetic is unchanged because shard offsets are
    additive."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    off = docs.withColumn("strt", F.sum("n_tok").over(w) - F.col("n_tok"))
    L = _PACK_SEQ_LEN
    spans = off.select(
        "source",
        "doc_id",
        "n_tok",
        "strt",
        F.explode(
            F.sequence(
                F.expr(f"strt DIV {L}"),
                F.expr(f"(strt + n_tok - 1) DIV {L}"),
            )
        ).alias("seq_id"),
    )
    overlap = F.least(
        F.col("strt") + F.col("n_tok"), (F.col("seq_id") + 1) * L
    ) - F.greatest(F.col("strt"), F.col("seq_id") * L)
    return spans.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(overlap).cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


_TEMPERATURE_MIX_ORACLE = """
WITH s AS (
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents
    GROUP BY source
), t AS (
    SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot,
           SUM(sqrt(CAST(n_tokens AS DOUBLE))) AS denom
    FROM s
)
SELECT s.source,
       s.n_docs,
       s.n_tokens,
       ROUND(s.n_tokens / t.tot, 6) AS token_share,
       ROUND(sqrt(CAST(s.n_tokens AS DOUBLE)) / t.denom, 6) AS sample_weight,
       CAST(ROUND(sqrt(CAST(s.n_tokens AS DOUBLE)) / t.denom * 1000000, 0) AS BIGINT)
           AS expected_tokens_at_1m,
       ROUND(sqrt(CAST(s.n_tokens AS DOUBLE)) / t.denom / (s.n_tokens / t.tot), 6)
           AS oversample_factor
FROM s, t
"""


@register(
    "pipeline_temperature_mix",
    oracle=_TEMPERATURE_MIX_ORACLE,
    tags=("text", "pipeline"),
)
def pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights — the multilingual /
    multi-source mixing step (α = 0.5, the standard T=2 rescaling):
    w_i ∝ p_i^α with p_i each source's token share. Emits, per source,
    the natural share, the rescaled sampling weight, the expected token
    allocation at a 1M-token budget, and the oversampling factor
    (w_i / p_i — how many epochs of a low-resource source a training
    run revisits).

    Plan: one map-side-combined aggregate over the corpus (the only
    data-scale stage — ONE FileScan; tokenizing 100 TB twice is the
    cost that matters) down to a source-count-sized model table, then
    the two normalization scalars as unbounded window sums OVER that
    model table: the SinglePartition exchange moves |sources| rows, the
    legitimate small-model funnel (unlike the reverted langid collapse,
    whose window state was vocabulary-sized). At 100 TB nothing else
    changes: the agg shuffles |sources| rows."""
    s = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    t = s.select(
        "*",
        F.sum("n_tokens").over(w).cast("double").alias("tot"),
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).over(w).alias("denom"),
    )
    share = F.col("n_tokens") / F.col("tot")
    weight = F.sqrt(F.col("n_tokens").cast("double")) / F.col("denom")
    return t.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(weight, 6).alias("sample_weight"),
        F.round(weight * 1000000, 0).cast("long").alias("expected_tokens_at_1m"),
        F.round(weight / share, 6).alias("oversample_factor"),
    )


_BPE_PAIR_ORACLE = """
WITH words AS (
    SELECT w AS word, COUNT(*) AS freq
    FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
    WHERE length(w) >= 2
    GROUP BY w
), pairs AS (
    SELECT substring(word, CAST(i AS INTEGER), 2) AS pair, freq
    FROM words, UNNEST(range(1, length(word))) AS r(i)
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 20
"""


@register("text_bpe_pair_stats", oracle=_BPE_PAIR_ORACLE, tags=("text",))
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics pass of a BPE merge round: corpus-weighted adjacent
    symbol-pair counts, top-20 (count DESC, pair ASC — a total order, so
    the cut is deterministic). Real BPE training repeats exactly this
    aggregate after each merge; the expensive part — pair counting over a
    weighted word table, NOT the raw corpus — is what this plans.

    Plan: explode to words → word-frequency aggregate (the corpus-scale
    shuffle; vocabulary-sized output) → per-word adjacent-pair explode
    (len(word)-1 rows per DISTINCT word, weighted by freq — corpus
    repetition is already collapsed) → pair aggregate →
    TakeOrderedAndProject top-k. At 100 TB the word table is the
    materialized artifact; each merge round re-runs only the
    vocabulary-scale stages."""
    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(20)
    )


_FERTILITY_ORACLE = """
WITH per_doc AS (
    SELECT lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT)
               AS toks,
           CAST(strlen(text) AS BIGINT) AS bytes
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(words) AS BIGINT) AS n_words,
       CAST(SUM(toks) AS BIGINT) AS n_tokens,
       CAST(SUM(bytes) AS BIGINT) AS n_bytes,
       ROUND(CAST(SUM(toks) AS DOUBLE) / SUM(words), 6) AS fertility,
       ROUND(CAST(SUM(bytes) AS DOUBLE) / SUM(toks), 6) AS bytes_per_token
FROM per_doc GROUP BY lang
"""


@register("text_tokenizer_fertility", oracle=_FERTILITY_ORACLE, tags=("text",))
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: subword tokens per
    whitespace word (fertility) and bytes per subword token — the two
    numbers that decide whether a tokenizer under-serves a language
    (high fertility ⇒ the same text costs more sequence length ⇒ less
    effective context and higher training cost per byte; the metric
    multilingual tokenizer papers report per language). The "tokenizer"
    is the repo's BPE-ish regex segmentation (alnum runs + each
    remaining non-space char its own token — text_token_count's
    convention extended with the punctuation fallback every real BPE
    has via byte-fallback).

    One scan, all three counts fold in a single projection (regexp
    count + split size + octet length, whole-stage codegen, no
    explode), one map-side-combined aggregate keyed on lang (|langs|
    rows). Ratios are exact-integer/exact-integer in double — no
    summation-order hazard at any partitioning."""
    per_doc = load(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("words"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+|[^a-z0-9 ]"))
        .cast("long")
        .alias("toks"),
        F.octet_length("text").cast("long").alias("bytes"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("n_words"),
        F.sum("toks").cast("long").alias("n_tokens"),
        F.sum("bytes").cast("long").alias("n_bytes"),
        F.round(
            F.sum("toks").cast("double") / F.sum("words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("bytes").cast("double") / F.sum("toks"), 6
        ).alias("bytes_per_token"),
    )


#: Per-language token budget for the greedy quality-ranked selection: small
#: enough to BIND for every language at sf0.01 (smallest language carries
#: ~3.3k tokens there) and for the largest language even at sf0.001, so the
#: driver row exercises the cutoff path, never the take-everything path.
TOKEN_BUDGET_PER_LANG = 1000

_BUDGET_SELECT_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
            * 1000000) // len(string_split(text, ' ')) AS ttr_micros
    FROM documents
), ranked AS (
    SELECT *,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY ttr_micros DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS tokens_before
    FROM scored
)
SELECT lang,
       CAST(COUNT(CASE WHEN tokens_before < {TOKEN_BUDGET_PER_LANG}
                       THEN 1 END) AS BIGINT) AS n_selected,
       CAST(COALESCE(SUM(CASE WHEN tokens_before < {TOKEN_BUDGET_PER_LANG}
                              THEN n_tokens END), 0) AS BIGINT)
           AS tokens_selected,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       CAST(MIN(CASE WHEN tokens_before < {TOKEN_BUDGET_PER_LANG}
                     THEN ttr_micros END) AS BIGINT) AS cutoff_ttr_micros
FROM ranked
GROUP BY lang
"""


@register(
    "pipeline_token_budget_select",
    oracle=_BUDGET_SELECT_ORACLE,
    tags=("text", "pipeline"),
)
def pipeline_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-ranked corpus selection under a per-language token
    budget — the step that turns 'we scored every document' into 'this is
    the training mix': within each language, admit documents best-first
    (type-token ratio here; any score column slots in) until the budget
    is spent, letting the last admitted document overflow it (the
    standard greedy-prefix convention — a budget is a target, not a hard
    wall, and skipping the straddling doc would bias against long
    documents). Reports, per language, how many documents and tokens got
    in, the language's total supply, and the quality cutoff the budget
    implied — the number a data-mix owner actually negotiates over.

    Integer exit throughout: the quality score is the truncating integer
    division (10⁶·distinct_tokens) div n_tokens and every output is a
    BIGINT. Deterministic admission via the (score DESC, doc_id ASC)
    total order and an EXCLUSIVE running prefix (tokens_before < budget).

    Scale shape: one scan computes per-doc token stats (no shuffle), one
    window per (lang) partition does the ranked prefix sum — languages
    are few and independent, so this parallelizes as |langs| sorted
    streams (the 100 TB form range-partitions within language by the
    score key, the ranges.py bucketed-prefix-sum pattern); the rollup is
    a |langs|-row aggregate."""
    toks = F.split(F.col("text"), " ")
    scored = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.expr(
            "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
            " * 1000000 div size(split(text, ' '))"
        ).alias("ttr_micros"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("ttr_micros"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = scored.withColumn(
        "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    sel = F.col("tokens_before") < TOKEN_BUDGET_PER_LANG
    return ranked.groupBy("lang").agg(
        F.count(F.when(sel, 1)).cast("long").alias("n_selected"),
        F.coalesce(F.sum(F.when(sel, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("tokens_selected"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.min(F.when(sel, F.col("ttr_micros"))).cast("long").alias(
            "cutoff_ttr_micros"
        ),
    )


_COLLAPSE_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), kept AS (
    SELECT doc_id, toks,
           list_filter(toks, (x, i) -> i = 1 OR x != toks[i - 1]) AS keep
    FROM t
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens_in,
       CAST(len(toks) - len(keep) AS BIGINT) AS n_removed,
       md5(array_to_string(keep, ' ')) AS cleaned_md5
FROM kept
"""


@register("text_collapse_repeats", oracle=_COLLAPSE_ORACLE, tags=("text",))
def text_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document stutter cleanup: collapse runs of consecutive
    identical tokens to one occurrence ('a a the' → 'a the') — the
    token-level normalization every crawl pipeline runs before counting
    anything (OCR stutter, copy-paste doubling, markup-stripping
    artifacts all surface as immediate repeats; corpus-level dedup ops
    deliberately ignore them, this TRANSFORM removes them). Emits per
    document the input size, how many tokens the collapse removed, and
    the md5 of the cleaned text — so the oracle pins the exact cleaned
    CONTENT, not just the counts, without hashing a megabyte column
    through the driver.

    Pure per-row array kernel: one projection, no shuffle, no UDF — the
    keep-mask is an indexed array filter (token i survives iff i is
    first or differs from token i−1), identical lambda semantics in both
    engines (Spark 0-based filter index with 1-based element_at; DuckDB
    1-based lambda index). Scales as a map-only pass at any corpus
    size."""
    toks = F.split(F.col("text"), " ")
    t = load(spark, sf_dir, "documents").select(
        "doc_id", toks.alias("toks")
    )
    kept = t.withColumn(
        "keep",
        F.filter(
            F.col("toks"),
            lambda x, i: (i == 0) | (x != F.element_at(F.col("toks"), i)),
        ),
    )
    return kept.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens_in"),
        (F.size("toks") - F.size("keep")).cast("long").alias("n_removed"),
        F.md5(F.concat_ws(" ", F.col("keep")).cast("binary")).alias(
            "cleaned_md5"
        ),
    )


#: Top-k keywords reported by the RAKE query.
RAKE_TOP_K = 20

_SW_IN_SQL = "('the', 'a', 'of', 'and', 'to', '')"

_RAKE_ORACLE = f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS l FROM documents
), toks AS (
    SELECT doc_id, s['pos'] AS pos, s['word'] AS word
    FROM base, UNNEST(list_transform(range(1, len(l)+1),
                      i -> struct_pack(pos := i, word := l[i]))) AS u(s)
), marked AS (
    SELECT doc_id, pos, word,
           CASE WHEN word IN {_SW_IN_SQL} THEN 1 ELSE 0 END AS sw
    FROM toks
), grp AS (
    SELECT doc_id, pos, word, sw,
           SUM(sw) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
    FROM marked
), words AS (
    SELECT doc_id, phrase_id, word FROM grp WHERE sw = 0
), plen AS (
    SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS len
    FROM words GROUP BY doc_id, phrase_id
), scored AS (
    SELECT w.word,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(p.len) AS BIGINT) AS degree
    FROM words w JOIN plen p
      ON w.doc_id = p.doc_id AND w.phrase_id = p.phrase_id
    GROUP BY w.word
)
SELECT word, freq, degree,
       (1000000 * degree) // freq AS rake_micros
FROM scored
ORDER BY rake_micros DESC, word ASC
LIMIT {RAKE_TOP_K}
"""


@register("text_rake_keywords", oracle=_RAKE_ORACLE, tags=("text",))
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus: split
    each document into candidate phrases at stopword/empty-token
    boundaries, score every word by degree/frequency — freq counts the
    word's phrase memberships, degree sums the lengths of the phrases it
    appears in (its co-occurrence mass including itself) — and report
    the top-k words by the RAKE ratio in floor micro-units. High
    degree/freq picks words that live inside LONG content phrases
    (multi-word technical terms) over words that occur alone; it's the
    classic zero-model keyword extractor for corpus triage, the keyword
    complement of text_collocations_pmi's pair scores.

    Scale shape: phrase segmentation is a per-document prefix count
    (posexplode + a doc_id-partitioned running sum — bounded partitions,
    never a global window); phrase lengths and word scores are two
    map-side-combined aggregates; phrase-length stamping joins on
    (doc_id, phrase_id) — fact-grain equi-join, AQE-planned; the final
    top-k is a rank-free sort+limit that fuses to TakeOrderedAndProject.
    All integer math; the division is a single floor micro-div."""
    from pyspark.sql.window import Window

    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "word"))
        .withColumn(
            "sw",
            F.when(
                F.col("word").isin(*STOPWORDS) | (F.col("word") == ""), 1
            ).otherwise(0),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grp = toks.withColumn("phrase_id", F.sum("sw").over(w))
    words = grp.filter(F.col("sw") == 0).select("doc_id", "phrase_id", "word")
    plen = words.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    scored = (
        words.join(plen, ["doc_id", "phrase_id"])
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("len").cast("long").alias("degree"),
        )
        .select(
            "word",
            "freq",
            "degree",
            F.expr("(1000000 * degree) div freq").alias("rake_micros"),
        )
    )
    return scored.orderBy(F.desc("rake_micros"), F.asc("word")).limit(RAKE_TOP_K)


#: MATTR window width (tokens). 50 is the convention in the lexical-
#: diversity literature (Covington & McFall 2010); only FULL windows
#: count, so the statistic is length-independent — the whole point vs
#: raw TTR, which shrinks mechanically as documents grow.
MATTR_WINDOW = 50

_MATTR_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
    FROM documents WHERE len(trim(text)) > 0
), pos AS (
    SELECT doc_id, n_tokens, z[1] AS tok,
           (CAST(z[2] AS BIGINT) - 1) // {MATTR_WINDOW} AS w
    FROM (
        SELECT doc_id, len(t) AS n_tokens,
               unnest(list_zip(t, range(1, len(t) + 1))) AS z
        FROM toks
    )
), per_doc AS (
    SELECT doc_id, MAX(n_tokens) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types
    FROM pos GROUP BY doc_id
), win AS (
    SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types_w
    FROM pos GROUP BY doc_id, w
), full_win AS (
    SELECT doc_id, n_types_w * 1000000 // {MATTR_WINDOW} AS ttr_micros
    FROM win WHERE n_tok = {MATTR_WINDOW}
), mattr AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(ttr_micros) AS BIGINT) // COUNT(*) AS mattr_micros
    FROM full_win GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.n_tokens AS BIGINT) AS n_tokens,
       COALESCE(m.n_windows, 0) AS n_windows,
       d.n_types * 1000000 // d.n_tokens AS global_ttr_micros,
       m.mattr_micros
FROM per_doc d LEFT JOIN mattr m ON d.doc_id = m.doc_id
"""


@register(
    "text_mattr_lexical_diversity", oracle=_MATTR_ORACLE, tags=("text",)
)
def text_mattr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average type-token ratio (MATTR, tumbling-window form) per
    document — the length-independent lexical-diversity signal the
    quality family lacks: raw TTR (reported alongside as
    global_ttr_micros) mechanically SHRINKS with document length, so
    thresholding it rejects long documents, not repetitive ones; MATTR
    measures diversity inside fixed {MATTR_WINDOW}-token windows and
    averages, so boilerplate and template spam score low at ANY length.
    Tumbling (not sliding) windows keep the cost one pass — the sliding
    literature form changes values slightly and the cost asymptotically;
    the convention is documented, not implied.

    Exact integers end to end: token positions from one posexplode,
    per-window distinct counts (map-side partial-distinct on the
    (doc, window) grain), micro-unit TTRs via truncating division, and
    the per-doc mean as an integer division of integer sums. Documents
    shorter than one full window report NULL MATTR and 0 windows —
    honest, not imputed. Shuffles are keyed on (doc, window) — uniform
    by construction, no skew."""
    toks = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    )
    pos = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.posexplode("t").alias("p", "tok"),
    ).select(
        "doc_id",
        "n_tokens",
        "tok",
        F.expr(f"p div {MATTR_WINDOW}").alias("w"),
    )
    per_doc = pos.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("tok").cast("long").alias("n_types"),
    )
    win = pos.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.countDistinct("tok").cast("long").alias("n_types_w"),
    )
    full_win = win.where(F.col("n_tok") == MATTR_WINDOW).select(
        "doc_id",
        F.expr(f"n_types_w * 1000000 div {MATTR_WINDOW}").alias(
            "ttr_micros"
        ),
    )
    mattr = full_win.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.expr("CAST(SUM(ttr_micros) AS BIGINT) div COUNT(1)").alias(
            "mattr_micros"
        ),
    )
    return (
        per_doc.join(mattr, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias(
                "n_windows"
            ),
            F.expr("n_types * 1000000 div n_tokens").alias(
                "global_ttr_micros"
            ),
            "mattr_micros",
        )
    )


_HEAPS_ORACLE = """
WITH tok AS (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
    FROM documents
), tok2 AS (
    SELECT doc_id, token FROM tok WHERE token <> ''
), per_doc AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
    FROM tok2 GROUP BY doc_id
), firsts AS (
    SELECT MIN(doc_id) AS doc_id FROM tok2 GROUP BY token
), new_types AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM firsts GROUP BY doc_id
), curve AS (
    SELECT p.doc_id,
           CAST(SUM(p.n_tok) OVER (ORDER BY p.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_cum,
           CAST(SUM(COALESCE(nt.nt, 0)) OVER (ORDER BY p.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS v_cum
    FROM per_doc p LEFT JOIN new_types nt ON p.doc_id = nt.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(n_cum) AS BIGINT) AS total_tokens,
       CAST(MAX(v_cum) AS BIGINT) AS total_types,
       ROUND(REGR_SLOPE(LN(v_cum), LN(n_cum)), 4) AS heaps_beta,
       ROUND(EXP(REGR_INTERCEPT(LN(v_cum), LN(n_cum))), 4) AS heaps_k,
       ROUND(REGR_R2(LN(v_cum), LN(n_cum)), 4) AS fit_r2
FROM curve
"""


@register("text_heaps_vocab_growth", oracle=_HEAPS_ORACLE, tags=("text",))
def text_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) ≈ K·N^β over the corpus
    read in doc_id order — the companion diagnostic to `text_zipf_fit`
    (the two laws are duals: β ≈ 1/|zipf slope| for a true power-law
    corpus). Template-generated or heavily duplicated corpora flatten
    the curve (β → 0: new text stops bringing new words); a β drift
    between snapshots is an early dedup/contamination signal at corpus
    scale, before any pairwise dedup runs.

    Distributed shape: tokens fold map-side to per-doc counts; each
    type's FIRST occurrence is one groupBy(token) min — no ordered scan
    of the token stream; then BOTH prefix curves (cumulative tokens
    N_d, cumulative new types V_d) ride ranges.running_sums over the
    doc grain — the doc grain grows with data, so the bare global
    window would be the single-task bottleneck the zipf/KS rewrites
    just removed (VERDICT r13 #2/#3); this op is born on the kernel.
    N_d, V_d are exact integers; the log-log regression folds the curve
    in one aggregate (ROUND 4). V_d ≥ 1 everywhere (a doc with tokens
    contributes its own first token), so LN is total."""
    from recommendation_system_big_data_spark.operators.ranges import (
        running_sums,
    )

    tok = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    new_types = (
        tok.groupBy("token")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("nt"))
    )
    base = per_doc.join(new_types, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce("nt", F.lit(0)).cast("long").alias("nt"),
    )
    curve = running_sums(
        base, ["doc_id"], {"n_cum": ("n_tok", True), "v_cum": ("nt", True)}
    )
    return curve.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("n_cum").cast("long").alias("total_tokens"),
        F.max("v_cum").cast("long").alias("total_types"),
        F.round(F.regr_slope(F.ln("v_cum"), F.ln("n_cum")), 4).alias(
            "heaps_beta"
        ),
        F.round(
            F.exp(F.regr_intercept(F.ln("v_cum"), F.ln("n_cum"))), 4
        ).alias("heaps_k"),
        F.round(F.regr_r2(F.ln("v_cum"), F.ln("n_cum")), 4).alias("fit_r2"),
    )


_JSD_ORACLE = """
WITH tok AS (
    SELECT source, UNNEST(string_split(text, ' ')) AS token
    FROM documents
), cnt AS (
    SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok WHERE token <> '' GROUP BY 1, 2
), totals AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source
), pairs AS (
    SELECT a.source AS sa, b.source AS sb, a.token,
           a.c AS ca, b.c AS cb, ta.n AS na, tb.n AS nb
    FROM cnt a
    JOIN cnt b ON a.token = b.token AND a.source < b.source
    JOIN totals ta ON ta.source = a.source
    JOIN totals tb ON tb.source = b.source
), terms AS (
    SELECT sa, sb,
           CAST(SUM(ca) AS BIGINT) AS cca,
           CAST(SUM(cb) AS BIGINT) AS ccb,
           CAST(SUM(CAST(FLOOR((CAST(ca AS DOUBLE) / na)
                * LN(2.0 * (CAST(ca AS DOUBLE) / na)
                     / (CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb))
                * 1000000000.0) AS BIGINT)) AS BIGINT) AS tp_nanos,
           CAST(SUM(CAST(FLOOR((CAST(cb AS DOUBLE) / nb)
                * LN(2.0 * (CAST(cb AS DOUBLE) / nb)
                     / (CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb))
                * 1000000000.0) AS BIGINT)) AS BIGINT) AS tq_nanos
    FROM pairs GROUP BY sa, sb
), universe AS (
    SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
    FROM totals a JOIN totals b ON a.source < b.source
)
SELECT u.sa AS source_a, u.sb AS source_b,
       ROUND(0.5 * (LN(2.0) * (u.na - COALESCE(t.cca, 0)) / u.na
                    + COALESCE(t.tp_nanos, 0) / 1000000000.0)
           + 0.5 * (LN(2.0) * (u.nb - COALESCE(t.ccb, 0)) / u.nb
                    + COALESCE(t.tq_nanos, 0) / 1000000000.0),
           6) AS jsd
FROM universe u LEFT JOIN terms t ON t.sa = u.sa AND t.sb = u.sb
"""


@register(
    "text_js_divergence_sources", oracle=_JSD_ORACLE, tags=("text",)
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between the per-source unigram
    distributions — the symmetric, bounded (≤ ln 2) distance that tells
    a corpus-mix pipeline WHICH sources are near-duplicates in
    distribution (candidates for merged temperature weights in
    `pipeline_temperature_mix`) and which bring genuinely novel text;
    KL alone is asymmetric and infinite on unseen tokens, which is why
    JSD is the corpus-comparison standard (DSIR-style mixture work).

    The union-vocabulary identity makes it one INNER join: tokens seen
    by only one source contribute exactly p·ln 2, so
    JSD = ½[ln 2·(1−P_common) + Σ_common p·ln(2p/(p+q))] + symmetric —
    the one-sided tails fold into exact integer count masses
    (1 − P_common = (n_a − Σ common c_a)/n_a), no full-outer join, no
    vocab fill-in. Each common-token term FLOOR-quantizes to nano-units
    before the sum (exact integer addition — a raw double sum over the
    vocabulary grain would vary with summation order); probabilities
    are shared divisions of exact counts. Scale: |sources| is a bounded
    dimension, so the token self-join fans each vocab row to at most
    S(S−1)/2 pairs — the data-sized stages are the two wordcount folds."""
    tok = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
    )
    cnt = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = cnt.groupBy("source").agg(
        F.sum("c").cast("long").alias("n")
    )
    a = cnt.select(
        F.col("source").alias("sa"),
        "token",
        F.col("c").alias("ca"),
    ).join(
        F.broadcast(totals.select(F.col("source").alias("sa"), F.col("n").alias("na"))),
        "sa",
    )
    b = cnt.select(
        F.col("source").alias("sb"),
        "token",
        F.col("c").alias("cb"),
    ).join(
        F.broadcast(totals.select(F.col("source").alias("sb"), F.col("n").alias("nb"))),
        "sb",
    )
    pairs = a.join(b, ["token"]).where(F.col("sa") < F.col("sb"))
    pa = "(CAST(ca AS DOUBLE) / na)"
    pb = "(CAST(cb AS DOUBLE) / nb)"
    terms = pairs.groupBy("sa", "sb").agg(
        F.sum("ca").cast("long").alias("cca"),
        F.sum("cb").cast("long").alias("ccb"),
        F.sum(
            F.expr(
                f"CAST(FLOOR({pa} * LN(2.0 * {pa} / ({pa} + {pb}))"
                " * 1000000000.0) AS BIGINT)"
            )
        ).cast("long").alias("tp_nanos"),
        F.sum(
            F.expr(
                f"CAST(FLOOR({pb} * LN(2.0 * {pb} / ({pa} + {pb}))"
                " * 1000000000.0) AS BIGINT)"
            )
        ).cast("long").alias("tq_nanos"),
    )
    # The pair UNIVERSE comes from the totals cross join, not from the
    # common-token join: two sources sharing NO tokens have an empty
    # inner-join group and would silently vanish — their JSD is the
    # ln 2 upper bound, the most important value to report (r14 planted
    # disjoint-vocabulary test caught this).
    universe = (
        totals.select(F.col("source").alias("sa"), F.col("n").alias("na"))
        .join(
            totals.select(
                F.col("source").alias("sb"), F.col("n").alias("nb")
            ),
            F.col("sa") < F.col("sb"),
        )
    )
    return universe.join(terms, ["sa", "sb"], "left").select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.expr(
            "ROUND(0.5 * (LN(2.0) * (na - COALESCE(cca, 0)) / na"
            " + COALESCE(tp_nanos, 0) / 1000000000.0)"
            " + 0.5 * (LN(2.0) * (nb - COALESCE(ccb, 0)) / nb"
            " + COALESCE(tq_nanos, 0) / 1000000000.0), 6)"
        ).alias("jsd"),
    )


#: TextRank candidate filter (stand-in for the POS filter of the paper:
#: alphabetic-ish length ≥ 4, corpus frequency ≥ 5) and PageRank constants
#: shared with graph_pagerank.
_TEXTRANK_MIN_LEN = 4
_TEXTRANK_MIN_COUNT = 5

_TEXTRANK_ORACLE = f"""
WITH toks AS (
    SELECT string_split(text, ' ') AS ts FROM documents
), big AS (
    SELECT ts[i] AS w1, ts[i + 1] AS w2
    FROM toks, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
    WHERE len(ts[i]) >= {_TEXTRANK_MIN_LEN}
      AND len(ts[i + 1]) >= {_TEXTRANK_MIN_LEN} AND ts[i] <> ts[i + 1]
), sym AS (
    SELECT w1, w2 FROM big UNION ALL SELECT w2, w1 FROM big
), e0 AS (
    SELECT w1 AS src, w2 AS dst, CAST(COUNT(*) AS DOUBLE) AS w
    FROM sym GROUP BY w1, w2
    HAVING COUNT(*) >= {_TEXTRANK_MIN_COUNT}
), outw AS (
    SELECT src, SUM(w) AS tot FROM e0 GROUP BY src
), e AS (
    SELECT e0.src, e0.dst, e0.w, outw.tot FROM e0
    JOIN outw ON outw.src = e0.src
), nodes AS (
    SELECT DISTINCT src AS id FROM e0
), nn AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), r0 AS (
    SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn
), c1 AS (
    SELECT e.dst AS id, SUM(r0.r * e.w / e.tot) AS c
    FROM e JOIN r0 ON r0.id = e.src GROUP BY e.dst
), r1 AS (
    SELECT nodes.id, 0.15 / nn.n + 0.85 * COALESCE(c1.c, 0) AS r
    FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.id = nodes.id
), c2 AS (
    SELECT e.dst AS id, SUM(r1.r * e.w / e.tot) AS c
    FROM e JOIN r1 ON r1.id = e.src GROUP BY e.dst
), r2 AS (
    SELECT nodes.id, 0.15 / nn.n + 0.85 * COALESCE(c2.c, 0) AS r
    FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.id = nodes.id
), c3 AS (
    SELECT e.dst AS id, SUM(r2.r * e.w / e.tot) AS c
    FROM e JOIN r2 ON r2.id = e.src GROUP BY e.dst
)
SELECT nodes.id AS word,
       ROUND(0.15 / nn.n + 0.85 * COALESCE(c3.c, 0), 6) AS rank
FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.id = nodes.id
"""


@register("text_textrank_keywords", oracle=_TEXTRANK_ORACLE, tags=("text",))
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    the word co-occurrence graph (adjacent candidate tokens, symmetric,
    weight = co-occurrence count) — the graph-centrality keyword scorer
    beside the degree/frequency family (text_rake_keywords scores by
    degree/frequency ratio; TextRank by stationary importance, which
    rewards words embedded in well-connected contexts rather than
    merely frequent ones). Candidate filter = length ≥ 4 + edge support
    ≥ 5, the repo's stand-in for the paper's POS filter.

    The graph build is ONE bigram explode of the token stream (array-
    local zip, as text_collocations_pmi) symmetrized by a union; the
    rank loop is graph_pagerank's verbatim 3-iteration damped kernel —
    identical IEEE per-edge expression, SUM-order drift ~1e-14, six
    orders under the ROUND(,6) exit (its float-determinism note applies
    unchanged). Support-floor on EDGES keeps the graph (and the output)
    vocabulary-bounded."""
    toks = tokens(F.col("text"))
    big = (
        load(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                    F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .where(
            (F.length("w1") >= _TEXTRANK_MIN_LEN)
            & (F.length("w2") >= _TEXTRANK_MIN_LEN)
            & (F.col("w1") != F.col("w2"))
        )
    )
    sym = big.union(big.select(F.col("w2").alias("w1"), F.col("w1").alias("w2")))
    e0 = (
        sym.groupBy(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .where(F.col("w") >= _TEXTRANK_MIN_COUNT)
    )
    outw = e0.groupBy("src").agg(F.sum("w").alias("tot"))
    e = e0.join(outw, "src")
    nodes = e0.select(F.col("src").alias("id")).distinct()
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "id", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(3):
        contrib = (
            e.join(ranks, e["src"] == ranks["id"])
            .select("dst", (F.col("r") * F.col("w") / F.col("tot")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n_nodes))
            .join(contrib, nodes["id"] == contrib["dst"], "left")
            .select(
                nodes["id"],
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        F.col("id").alias("word"), F.round("r", 6).alias("rank")
    )


# --- Bigram-LM perplexity scoring ------------------------------------------
# The CCNet-style perplexity filter at bigram order: train add-k
# smoothed bigram transition probabilities on the WHOLE corpus, score
# every document's cross-entropy under that model, and report the
# per-source perplexity profile. text_bigram_lm builds the pruned
# model artifact; THIS op closes the loop by scoring documents with it
# — the standard "train cheap LM, drop high-perplexity docs"
# pretraining-data gate. Smoothing k = 0.5 over the context
# vocabulary keeps every transition finite (no OOV special-casing, no
# ln(0) on either engine).

_PPL_K = "0.5"

_PPL_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS tk
    FROM documents WHERE length(trim(text)) > 0
), pairs AS (
    SELECT doc_id, source, tk[u.i] AS w1, tk[u.i + 1] AS w2
    FROM toks CROSS JOIN UNNEST(range(1, len(tk))) AS u(i)
), vocab AS (
    SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
    FROM (SELECT w1 AS w FROM pairs UNION SELECT w2 FROM pairs)
), big AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
    FROM pairs GROUP BY w1, w2
), ctx AS (
    SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big GROUP BY w1
), scored AS (
    SELECT p.doc_id, p.source,
           LN((b.c12 + {_PPL_K})
              / (c.c1 + {_PPL_K} * (SELECT v FROM vocab))) AS lp
    FROM pairs p
    JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
    JOIN ctx c ON p.w1 = c.w1
), perdoc AS (
    SELECT doc_id, source, EXP(-AVG(lp)) AS ppl
    FROM scored GROUP BY doc_id, source
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(ppl), 4) AS avg_ppl,
       ROUND(MIN(ppl), 4) AS min_ppl,
       ROUND(MAX(ppl), 4) AS max_ppl
FROM perdoc GROUP BY source ORDER BY source
"""


@register("text_lm_perplexity", oracle=_PPL_ORACLE, tags=("text", "quality"))
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram-LM perplexity profile — the scoring half of
    the classic perplexity data filter (CCNet/Wenzek et al.): train an
    add-k bigram model on the corpus itself, compute each document's
    perplexity exp(−mean ln P(w_i|w_{i−1})), and profile by source so
    a pipeline can set the drop threshold per slice.
    `text_bigram_lm` ships the model artifact; `text_dsir_importance`
    and `text_ccnet_quality_buckets` rank by unigram surprisal — this
    is the transition-probability upgrade that catches shuffled-word
    gibberish unigram models score as fluent.

    Engine shape: in-row zip_with bigram extraction (no self-join),
    ONE groupBy for bigram counts, context totals re-aggregated from
    the bigram table (not the corpus), then the score join runs keyed
    on (w1, w2) — Zipf-skewed keys, exactly AQE skew-split territory,
    documented as such. Per-doc and per-source folds are one shuffle
    each. k = 0.5 smoothing over the pair-derived vocabulary keeps
    ln() total on both engines. Scale: every stage is a hash
    aggregation or equi-join on token keys; nothing quadratic, no
    driver-side state."""
    toks = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            "source",
            F.split(F.trim("text"), r"\s+").alias("tk"),
        )
    )
    pairs = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.zip_with(
                F.slice(F.col("tk"), 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                F.slice(
                    F.col("tk"), 2, F.greatest(F.size("tk") - 1, F.lit(0))
                ),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "source", "p.w1", "p.w2")
    vocab = (
        pairs.select(F.col("w1").alias("w"))
        .union(pairs.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").cast("long").alias("v"))
    )
    big = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    ctx = big.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    scored = (
        pairs.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "source",
            F.expr(
                f"LN((c12 + {_PPL_K}) / (c1 + {_PPL_K} * v))"
            ).alias("lp"),
        )
    )
    perdoc = scored.groupBy("doc_id", "source").agg(
        F.expr("EXP(-AVG(lp))").alias("ppl")
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("ppl"), 4).alias("avg_ppl"),
            F.round(F.min("ppl"), 4).alias("min_ppl"),
            F.round(F.max("ppl"), 4).alias("max_ppl"),
        )
        .orderBy("source")
    )
