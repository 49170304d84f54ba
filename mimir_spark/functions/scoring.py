"""Scoring expressions: the reference's pluggable scorer surface
(search/score/MimirScorer.java; catalog in MimirScorerService.groovy)
as plain Column expressions over hit/rollup DataFrames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def count_scorer(hits: DataFrame) -> DataFrame:
    """CountScorer: document score = number of hits."""
    return hits.groupBy("conv_id").agg(F.count("*").alias("score"))


def binding_scorer_col(len_col: str = "len", h: int = 16,
                       alpha: float = 0.9) -> Column:
    """BindingScorer (BindingScorer.java:25-52): per-hit score
    len < h ? 1 : (h/len)^alpha."""
    ln = F.col(len_col).cast("double")
    return F.when(ln < h, F.lit(1.0)).otherwise(F.pow(F.lit(float(h)) / ln, alpha))


def tf_idf_scores(tokens: DataFrame, term: str) -> DataFrame:
    """TfIdfScorer over the token table: score(doc) = tf * ln(N/df).

    Single logical plan, zero driver-side actions: corpus stats (N, df)
    come from one aggregation crossJoined back as a broadcast 1-row
    frame, so the whole scorer is one job when evaluated."""
    stats = tokens.agg(
        F.count_distinct("doc_id").alias("_n_docs"),
        F.count_distinct(
            F.when(F.col("term") == term, F.col("doc_id"))).alias("_df"),
    )
    tf = (tokens.filter(F.col("term") == term)
          .groupBy("doc_id").agg(F.count("*").alias("_tf")))
    return (
        tf.crossJoin(F.broadcast(stats))
        .filter(F.col("_df") > 0)
        .select(
            "doc_id",
            (F.col("_tf") * F.log(F.col("_n_docs") / F.col("_df"))).alias("score"),
        )
    )


def bm25_scores(tokens: DataFrame, term: str, k1: float = 1.2,
                b: float = 0.75) -> DataFrame:
    """Okapi BM25 for one query term over the token table — the
    reference's BM25Scorer slot (MimirScorerService.groovy:29-34,
    search/score via MG4J BM25).

    score(d) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    idf      = ln(1 + (N - df + 0.5) / (df + 0.5))

    One logical plan: corpus stats (N, df, avgdl) from a single
    aggregation over per-doc lengths, broadcast back — no driver-side
    actions (same discipline as tf_idf_scores)."""
    dl = tokens.groupBy("doc_id").agg(
        F.count("*").alias("_dl"),
        F.sum(F.when(F.col("term") == term, 1).otherwise(0)).alias("_tf"),
    )
    stats = dl.agg(
        F.count("*").alias("_n_docs"),
        F.sum(F.when(F.col("_tf") > 0, 1).otherwise(0)).alias("_df"),
        F.avg("_dl").alias("_avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    tf = F.col("_tf").cast("double")
    denom = tf + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
    return (
        dl.filter(F.col("_tf") > 0)
        .crossJoin(F.broadcast(stats))
        .filter(F.col("_df") > 0)
        .select("doc_id",
                F.round(idf * tf * (k1 + 1.0) / denom, 6).alias("score"))
    )
