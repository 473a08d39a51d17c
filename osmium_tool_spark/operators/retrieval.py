"""BM25 full-text retrieval over the documents corpus.

Training-data pipelines use lexical retrieval both ways: pulling the
nearest corpus documents for a prompt set (RAG corpus curation) and
scoring corpus quality against a seed set (e.g. the GPT-3 WebText
quality classifier was trained on retrieval positives). osmium-tool has
no text retrieval; this is part of the LLM-pipeline surface the engine
adds on top of the reference's operators (SURVEY.md "beyond the
reference" family).

Shape, and why it survives 100 TB:

  1. ``build_postings`` tokenizes once and produces the inverted index
     ``(term, doc_id, tf)`` plus per-doc lengths — ONE explode + hash
     aggregate over the corpus (the only corpus-sized shuffle).
  2. ``bm25_topk`` joins the postings against the DISTINCT query terms.
     A query batch is tiny next to the corpus, so the term list is
     broadcast — the corpus-side join is a broadcast semi-join that
     prunes the postings scan to matching terms only; no corpus shuffle.
  3. Scores aggregate per (query_id, doc_id) with map-side combine, then
     top-k per query via row_number over (score desc, doc_id) — Spark
     compiles the rank<=k filter to WindowGroupLimit, so each map task
     emits at most queries x k rows into the final exchange.

Nothing is all-pairs: the candidate set is exactly the docs sharing at
least one term with the query (the inverted-index contract).

Scoring is Lucene-style BM25 (Robertson & Zaragoza 2009, "The
Probabilistic Relevance Framework"): idf = ln(1 + (N-df+0.5)/(df+0.5)),
tf-norm = tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) with k1 = 1.2 and
b = 0.75. Scores are quantized (round to 6 dp) BEFORE ranking so that
float summation order — which Spark does not fix across partitions —
cannot flip near-tie ranks between runs or against the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z0-9]+"


def tokens(text: Column) -> Column:
    """Lowercased alphanumeric word tokens (empty strings dropped)."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda t: t != "")


def build_postings(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """The standing inverted index: (postings, doclens).

    postings = (term, doc_id, tf); doclens = (doc_id, dl). One explode +
    one hash aggregate; both frames are reusable across query batches
    (persist or write them — they are the index, not per-query state).
    """
    toks = docs.select(
        F.col(doc_id).alias("doc_id"), F.explode(tokens(F.col(text))).alias("term")
    )
    postings = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    doclens = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    return postings, doclens


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
    query_id: str = "query_id",
    doc_id: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of per-query rankings: hybrid retrieval.

    Combines N retrieval systems (e.g. BM25 lexical + embedding ANN) by
    summing 1/(c + rank) per (query, doc) across systems — Cormack,
    Clarke & Buettcher 2009 ("Reciprocal rank fusion outperforms Condorcet
    and individual rank learning methods", SIGIR). RRF is the standard
    hybrid-retrieval merge in RAG corpus curation: rank-based, so it needs
    no score calibration between systems.

    Scale shape: every input is already a per-query top-K frame
    (queries x K rows — the WindowGroupLimit output of bm25_topk /
    ann_topk), so this never touches the corpus. One union + one hash
    aggregate + one top-k window over queries x K x systems rows.
    A doc missing from a system's list simply contributes nothing
    (standard RRF; no outer-join imputation).

    Determinism: the fused score is a sum of at most len(rankings) exact
    dyadic-adjacent terms 1/(c+rank); quantized (9 dp) before
    ranking, ties break by doc id — same contract as bm25_topk.

    Returns (query_id, doc_id, rrf, rank).
    """
    if not rankings:
        raise ValueError("rrf_fuse: no rankings given")
    tagged = [
        r.select(
            F.col(query_id).alias("query_id"),
            F.col(doc_id).alias("doc_id"),
            (F.lit(1.0) / (F.lit(float(c)) + F.col(rank_col).cast("double"))).alias(
                "contrib"
            ),
        )
        for r in rankings
    ]
    allr = tagged[0]
    for t in tagged[1:]:
        allr = allr.unionByName(t)
    fused = allr.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("contrib"), 9).alias("rrf")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rrf", "rank")
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
    doc_id: str = "doc_id",
    text: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Per-document top-k TF-IDF keywords:
    (doc_id, term, tf, df, score, rank).

    The corpus-keyword half of the retrieval family: bm25_topk scores
    documents FOR a query; this scores terms FOR a document — the
    keyword-extraction / topic-labeling primitive training-data
    pipelines use for corpus inspection, cluster naming and
    quality-stratified sampling (Salton & Buckley 1988 term weighting).

    Scoring is classic tf·idf with the smooth idf both sklearn and
    Lucene document publicly: idf = ln((1+N)/(1+df)) + 1 — strictly
    positive, defined even for df = N. Scores are quantized (6 dp)
    BEFORE ranking so float summation order cannot flip near-tie
    ranks between runs or against the SQL oracle; ties break by term
    asc (deterministic total order).

    Scale shape, and why it survives 100 TB: the postings build is the
    one corpus-sized explode + hash aggregate. df-by-term
    aggregates the postings to vocab size; the postings⋈df join is
    term-keyed (vocab-sized build side — Spark's AQE broadcasts it
    when it fits, else a plain shuffle join on a high-cardinality key
    with no skew hazard since ``max_df`` caps the hottest terms). The
    final per-doc top-k is row_number over (score desc, term asc)
    filtered to rank<=k — Spark compiles it to WindowGroupLimit, so
    each map task emits at most docs×k rows into the last exchange.

    ``max_df`` drops terms in more than that many docs (stop-term cap,
    like ngram_jaccard_pairs' MAX_DF).
    """
    postings, _ = build_postings(docs, doc_id=doc_id, text=text)

    n_docs = docs.select(F.col(doc_id)).distinct().agg(
        F.count("*").cast("double").alias("n_docs")
    )

    df_by_term = postings.groupBy("term").agg(F.count("*").alias("df"))
    if max_df is not None:
        df_by_term = df_by_term.filter(F.col("df") <= F.lit(max_df))

    scored = (
        postings.join(df_by_term, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df")))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    doc_id: str = "doc_id",
    text: str = "text",
    query_id: str = "query_id",
    query_text: str = "qtext",
) -> DataFrame:
    """Top-k BM25 matches per query: (query_id, doc_id, score, rank).

    Tokenizes the corpus inline (`build_postings`); scoring and rounding
    are described in the module docstring.
    """
    k1, b = 1.2, 0.75
    postings, doclens = build_postings(docs, doc_id=doc_id, text=text)

    # corpus statistics: two scalars, broadcast via crossJoin of 1-row frames
    stats = doclens.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    df_by_term = postings.groupBy("term").agg(F.count("*").alias("df"))

    qterms = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(tokens(F.col(query_text))).alias("term"),
    ).distinct()

    # query side is small: broadcast it so the postings scan is pruned by a
    # broadcast hash join instead of shuffling the corpus-sized postings
    matched = postings.join(
        F.broadcast(qterms.join(F.broadcast(df_by_term), "term")), "term"
    )

    scored = (
        matched.join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )
