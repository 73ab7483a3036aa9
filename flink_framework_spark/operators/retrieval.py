"""Text retrieval over the corpus — the search-side operators an
LLM-data pipeline runs against its own training set (eval-leak
audits, boosted sampling, corpus QA): inverted-index BM25 scoring,
TF-IDF keyword extraction, and overlapping token-window chunking.

All three are pure DataFrame compositions (explode + hash aggregates
+ one broadcast join against the tiny query-term set) — no UDFs, no
cross joins, nothing driver-side. At 100 TB the postings build is one
shuffle keyed on (term) resp. (doc); the global corpus stats (N,
avgdl) are a 1-row aggregate broadcast into the scorer.

Determinism/parity notes: every score is rounded via ``round_duck``
before it participates in ordering, so a 1-ulp difference between
the JVM's and DuckDB's ``ln`` cannot reorder results; remaining ties
break on (doc_id, term). Averages are spelled SUM/COUNT over integer
token counts (exact in both engines) rather than AVG-of-doubles
(summation-order dependent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_framework_spark.functions.helpers import round_duck
from flink_framework_spark.operators.text import words
from flink_framework_spark.staging import stage


def _postings(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(doc, term) -> term frequency + document length postings."""
    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("term")
    )
    return toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    )


def doc_lengths(post: DataFrame, id_col: str) -> DataFrame:
    """Document lengths re-aggregated from the postings frame (sum of
    term frequencies == token count, empty tokens included in both),
    so BM25/TF-IDF tokenize the corpus ONCE — the second full scan +
    explode that a separate length pass would cost dominates at
    scale."""
    return post.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k document retrieval for a bag of query terms.

    Plan shape: postings (explode + partial-aggregated count) are
    filtered to the query terms with a literal ``IN`` predicate
    *before* any scoring work — a narrow codegen'd filter, no join —
    so at scale only the matching slice of the inverted index is ever
    scored. Corpus stats (N, total token count) come from one 1-row
    aggregate that Catalyst broadcasts into the scorer; document
    frequency per query term is computed on the filtered postings
    only.

    Returns (doc_id, score) — the k highest-scoring docs, score
    rounded to 4 decimals, ties broken by ascending doc id
    (TakeOrderedAndProject, no global sort).
    """
    # staged: dl and the query-term slice both consume the postings
    # aggregate; without the stage the tokenize+count pipeline runs
    # once PER BRANCH (see SCALING.md on self-join branch duplication)
    post_all = stage(_postings(df, id_col, text_col))
    dl = doc_lengths(post_all, id_col)
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("tot_dl"),
    )

    post = post_all.filter(F.col("term").isin(*query_terms))
    dfreq = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df_t")
    )

    scored = (
        post.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    # Parenthesization mirrors the DuckDB oracle exactly so both
    # engines execute the same double-op sequence (then round).
    avgdl = F.col("tot_dl") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df_t")) + 0.5) / (F.col("df_t") + 0.5)
    )
    tf = F.col("tf").cast("double")
    norm = tf + (k1 * ((1.0 - b) + ((b * F.col("dl").cast("double")) / avgdl)))
    contrib = idf * ((tf * (k1 + 1.0)) / norm)
    return (
        scored.groupBy(id_col)
        .agg(round_duck(F.sum(contrib), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def tfidf_keywords(
    df: DataFrame,
    per_doc: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top ``per_doc`` keywords per document by TF-IDF.

    tf is the relative term frequency (count / doc length), idf is
    ``ln(N / df)``. Two hash aggregates (postings, document
    frequency) plus a per-doc window for the top-k — partitioned by
    document, so no global sort anywhere. Ranking uses the rounded
    tfidf (ulp-stable across engines) with the term string as the
    tiebreak.

    Returns (doc_id, term, kw_rank, tfidf).
    """
    from pyspark.sql.window import Window

    post = stage(_postings(df, id_col, text_col))
    dl = doc_lengths(post, id_col)
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    dfreq = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df_t")
    )
    tfidf = round_duck(
        (F.col("tf").cast("double") / F.col("dl").cast("double"))
        * F.log(F.col("n_docs") / F.col("df_t")),
        6,
    )
    scored = (
        post.join(dl, id_col)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(id_col, "term", tfidf.alias("tfidf"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= per_doc)
        .select(id_col, "term", "kw_rank", "tfidf")
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping word-window chunks — the
    standard context-window preparation step before embedding or
    packing. A chunk starts every ``stride`` words; the final chunk
    may be shorter than ``chunk_size``.

    Pure narrow map + explode (JVM higher-order functions): at any
    scale this is shuffle-free and streams through the scan. Returns
    (doc_id, chunk_start, n_tokens, chunk_md5) — the chunk body is
    fingerprinted rather than materialized so the output stays small;
    downstream embedders re-slice by (doc_id, chunk_start).
    """
    w = words(F.col(text_col))
    # sequence(0, size-1, stride) == every chunk start < size; no
    # filter needed (and none that would re-evaluate the split).
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(w) - 1, F.lit(0)), F.lit(stride)
    )
    chunk: Column = F.explode(starts).alias("chunk_start")
    out = df.select(F.col(id_col), w.alias("__w"), chunk)
    piece = F.slice(F.col("__w"), F.col("chunk_start") + 1, chunk_size)
    return out.select(
        id_col,
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.md5(F.encode(F.array_join(piece, " "), "UTF-8")).alias("chunk_md5"),
    )
