"""Lexical retrieval: BM25 scoring over the documents corpus.

Extension layer (SURVEY.md §7 phase 5) — the ranking half of a
training-data search/inspection stack (Robertson & Zaragoza 2009,
"The Probabilistic Relevance Framework: BM25 and Beyond", §3.3; the
IDF spelling is Lucene's `ln(1 + (N - df + 0.5)/(df + 0.5))`, which
keeps IDF positive for terms in more than half the corpus).

Scale shape (the part that matters at 100 TB):
- Per-document term frequencies come from a ROW-LOCAL array filter
  over the tokenized text (`F.filter` inside whole-stage codegen) —
  no explode, no shuffle, no Python. For a bounded query-term set
  this beats building an inverted index: the scan streams once and
  emits one row per document.
- The corpus statistics BM25 needs (N, avgdl, one df per query term)
  are ONE aggregate producing a single row, broadcast back with a
  `crossJoin(broadcast(...))` — the same pattern every corpus-wide
  normalization in this repo uses.
- The final top-k is a rank-limit sort over only the docs that
  matched at least one term.
For ad-hoc many-term workloads you would materialize the inverted
index instead (explode → (term, doc, tf) postings, partitioned by
term) and join the query against it; the postings build is the same
explode this repo already ships in `tfidf_top_terms`.

Determinism: the score is a single written-order expression
(term1 + term2 + term3) evaluated identically by Spark and DuckDB —
no aggregation-order float drift — so the 6dp round is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_framework_spark.functions.text import tokens
from data_framework_spark.sources.tables import load_table, read_parquet

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("table", "spark", "vector")
BM25_TOPK = 20


def _tf(term: str):
    """Row-local term frequency: count of exact-match tokens."""
    return F.size(
        F.filter(tokens(F.col("text")), lambda x: x == F.lit(term))
    ).cast("double")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for the fixed query ``table spark
    vector``: per-doc tf via codegen array filters, corpus stats
    (N, avgdl, per-term df) as one broadcast row, score as one
    deterministic expression, rank-limit top-k."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("double").alias("dl"),
        *[_tf(t).alias(f"tf{i}") for i, t in enumerate(BM25_TERMS)],
    )
    stats = scored.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("double")).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)

    def contrib(i: int):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5)
            / (F.col(f"df{i}") + 0.5)
        )
        tf = F.col(f"tf{i}")
        return idf * tf * (k1 + 1.0) / (
            tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )

    score = contrib(0) + contrib(1) + contrib(2)
    return (
        scored.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK)
    )


BM25_TERM_BUCKETS = 32  # postings partition fan-out (pmod of xxhash64)


def bm25_index_write(docs: DataFrame, path: str) -> None:
    """Materialize the FULL-VOCABULARY inverted index to parquet —
    the build an ad-hoc/many-term retrieval workload amortizes:

    - `{path}/postings`: (term, doc_id, dl, tf), one corpus-linear
      explode + one groupBy, written `partitionBy("tbucket")` where
      tbucket = pmod(xxhash64(term), 32). Partitioning by raw term
      would mint one directory per vocabulary word (millions at
      100 TB); the hash bucket keeps the directory count fixed while
      a bounded query-term set still prunes the read to ≤|terms|
      buckets via partition pruning on the pushed tbucket filter.
    - `{path}/terms`: (term, df) — per-term document frequency,
      vocabulary-sized, folded once at build time so query time
      never rescans postings to count df.
    - `{path}/stats`: one row (n_docs, avgdl).
    """
    base = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("double").alias("dl"),
        tokens(F.col("text")).alias("ts"),
    )
    postings = (
        base.select("doc_id", "dl", F.explode("ts").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .withColumn(
            "tbucket", F.pmod(F.xxhash64("term"), F.lit(BM25_TERM_BUCKETS))
        )
    )
    postings.write.mode("overwrite").partitionBy("tbucket").parquet(
        f"{path}/postings"
    )
    idx = read_parquet(postings.sparkSession, f"{path}/postings")
    idx.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    ).write.mode("overwrite").parquet(f"{path}/terms")
    base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).write.mode("overwrite").parquet(f"{path}/stats")


def bm25_topk_from_index(
    spark: SparkSession, path: str, terms: tuple[str, ...], k: int
) -> DataFrame:
    """BM25 top-k for `terms` against a RELOADED postings index. The
    postings scan carries a tbucket + term filter, so at scale only
    the ≤|terms| matching bucket directories are read (partition
    pruning) and only matching rows survive (predicate pushdown) —
    the corpus text is never touched.

    Float-parity subtlety vs the row-local route/oracle: those sum
    contributions in WRITTEN order (t0+t1+t2), so this route sorts
    each doc's contributions by term index and folds them in that
    same order via an array aggregate — never `sum()`, whose
    partial-aggregation order Spark doesn't define."""
    terms_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(terms)], "tix int, term string"
    )
    buckets = sorted(
        {
            r["tbucket"]
            for r in terms_df.select(
                F.pmod(F.xxhash64("term"), F.lit(BM25_TERM_BUCKETS)).alias(
                    "tbucket"
                )
            ).collect()
        }
    )
    postings = (
        read_parquet(spark, f"{path}/postings")
        .filter(F.col("tbucket").isin(buckets))
        .join(F.broadcast(terms_df), "term")
    )
    # df only for the query terms — never broadcast the full vocab
    dfreq = read_parquet(spark, f"{path}/terms").join(
        F.broadcast(terms_df.select("term")), "term"
    )
    corpus = read_parquet(spark, f"{path}/stats")
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    contrib = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf")
        * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", "tix", contrib.alias("c"))
        .groupBy("doc_id")
        # written-order fold: sort the (tix, c) structs, then add the
        # contributions left-to-right exactly like t0+t1+t2
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("tix"), F.col("c")))
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["c"],
            ).alias("score")
        )
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
    )


BM25_INDEX_PREFIX = "bm25_index_"

#: Bump on any bm25_index_write semantics change (tokenization,
#: postings layout, bucket count) — the persistent cross-session
#: cache keys on it.
BM25_INDEX_FMT = 1
_BM25_INDEX_PARAMS = {"fmt": BM25_INDEX_FMT, "tbuckets": 32}


def _bm25_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """The persisted full-vocab postings index for sf_dir — built at
    most once ACROSS sessions (r14, the ivfpq persistent-index
    precedent: production retrieval serving reloads the postings, it
    does not re-tokenize the corpus per session)."""
    from data_framework_spark.functions import text as text_mod
    from data_framework_spark.sources.formats import (
        build_source_fp,
        persistent_index_dir,
    )

    return persistent_index_dir(
        spark,
        sf_dir,
        BM25_INDEX_PREFIX,
        lambda p: bm25_index_write(load_table(spark, sf_dir, "documents"), p),
        params={
            **_BM25_INDEX_PARAMS,
            # tokenization lives in functions/text.py — outside the
            # auto-folded defining module of the build lambda
            "dep_src": build_source_fp(text_mod),
        },
    )


def q_bm25_postings_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-INVERTED-INDEX route to the same BM25 result —
    the plan you materialize when the query workload is ad-hoc/
    many-term rather than a fixed bounded term set: the full-vocab
    postings index is written to parquet once (term-hash-bucketed
    directories, per-term df table, one-row corpus stats) and the
    query runs entirely against the RELOADED index — the documents
    text is not rescanned.

    Shares `Q_BM25_TOPK_SQL` as its oracle (the registry dual-route
    convention, e.g. pagerank exact vs LSH): same scores, different
    physical plan — a posting lost, re-bucketed, or type-mangled by
    the parquet roundtrip breaks the hash. Build-at-most-once ACROSS
    sessions via _bm25_index_dir / formats.persistent_index_dir."""
    path = _bm25_index_dir(spark, sf_dir)
    return bm25_topk_from_index(spark, path, BM25_TERMS, BM25_TOPK)


BM25_ADHOC_TERMS = ("filter", "window", "merge", "scan")


def q_bm25_adhoc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A SECOND, differently-termed (and differently-SIZED: 4 terms,
    not 3) query against the SAME persisted postings index — the
    round-8 verdict's ask: the index exists precisely so ad-hoc term
    sets don't rescan the corpus, and this entry proves the runtime
    path: within a session the index built by q_bm25_postings_topk
    is REUSED (session_index_dir keys on (app, sf_dir, prefix,
    fingerprint) — no rebuild, test-pinned in test_round9), only the
    bounded term-list inputs change. The 4-term score exercises the
    generic tix-sorted fold beyond the fixed 3-term shape."""
    path = _bm25_index_dir(spark, sf_dir)
    return bm25_topk_from_index(spark, path, BM25_ADHOC_TERMS, BM25_TOPK)


def _tf_sql(term: str, i: int) -> str:
    return (
        f"len(list_filter(string_split(text, ' '), "
        f"x -> x = '{term}'))::DOUBLE AS tf{i}"
    )


def _bm25_sql(terms: tuple[str, ...], k: int = BM25_TOPK) -> str:
    """Parameterized DuckDB oracle for ANY term tuple — the written-
    order score t0 + t1 + ... + tn matches both Spark routes (the
    row-local expression and the index route's tix-sorted fold)."""
    tf_cols = ",\n         ".join(_tf_sql(t, i) for i, t in enumerate(terms))
    df_cols = ",\n         ".join(
        f"sum((tf{i} > 0)::INTEGER)::DOUBLE AS df{i}"
        for i in range(len(terms))
    )
    contribs = [
        f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} "
        f"* ({BM25_K1} + 1.0) / (tf{i} + {BM25_K1} "
        f"* (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
        for i in range(len(terms))
    ]
    score = "\n           + ".join(contribs)
    return f"""
WITH scored AS (
  SELECT doc_id,
         len(string_split(text, ' '))::DOUBLE AS dl,
         {tf_cols}
  FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
         {df_cols}
  FROM scored
)
SELECT doc_id,
       round({score}, 6) AS bm25
FROM scored CROSS JOIN stats
WHERE round({score}, 6) > 0
ORDER BY bm25 DESC, doc_id ASC
LIMIT {k}
"""


Q_BM25_TOPK_SQL = _bm25_sql(BM25_TERMS)

Q_BM25_ADHOC_TOPK_SQL = _bm25_sql(BM25_ADHOC_TERMS)
