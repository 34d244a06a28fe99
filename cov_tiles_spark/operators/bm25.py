"""BM25 sparse retrieval: distributed inverted index + top-k scoring.

Complements the dense-embedding family (operators/similarity.py — brute
cosine / IVF / PQ): a training-data pipeline needs lexical retrieval for
decontamination sweeps, hard-negative mining, and corpus QA where
embeddings are unavailable or too expensive. Everything is JVM-side
column expressions — no Python in any per-row path.

Scale shape (the 100 TB lens):

- index build: one ``explode(split(...))`` map over the corpus and ONE
  hash shuffle on (doc_id, term) with map-side combine; document length
  is folded into the postings rows at build time so scoring never joins
  a corpus-sized side table.
- term document-frequencies ride a second, vocabulary-sized aggregate of
  the postings (map-side combined; output rows = |vocab|, independent of
  corpus row count).
- scoring: query terms (with idf pre-attached) ride a BROADCAST join
  into the postings scan — the postings never reshuffle; the only
  exchange is the (query_id, doc_id) partial-sum aggregate, whose volume
  is the number of query-term hits, not the corpus. Top-k per query is a
  rank window that Spark executes as WindowGroupLimit
  (partial per-partition heaps before the final exchange — the same
  plan shape pinned for retrieval_eval in tests/test_plans.py).

Cross-engine determinism: ranking orders by round(score, 6) with doc_id
tie-break so the DuckDB twin's float summation order cannot flip ranks
(same convention as operators/similarity.py cosine_topk); the raw score
stays out of the gate hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bm25_index(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the distributed BM25 index over the whitespace tokens of
    ``docs``' ``text``, keyed by its ``doc_id``.

    Returns ``(postings, df, doclen)``:

    - ``postings``: one row per (term, doc) with ``tf`` (term frequency
      in the doc) and ``dl`` (the doc's token length, folded in here so
      scoring needs no corpus-sized join).
    - ``df``: one row per term with its document frequency —
      vocabulary-sized, the broadcastable side of query scoring.
    - ``doclen``: one row per doc with its token length — the corpus
      constants (N, avgdl) are one tiny aggregate over it.
    """
    # dl is row-local (the doc's own token array, before explode), so it
    # rides through the explode and the tf aggregate as a grouping key —
    # no doc_id join/exchange anywhere in the build. The ONLY shuffle is
    # the (term, doc_id) tf aggregate, map-side combined.
    toks = F.filter(
        F.split(F.col("text"), " "), lambda x: F.length(x) > 0
    )
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).alias("dl"),
    )
    postings = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )
    df = postings.groupBy("term").agg(F.count("*").alias("df"))
    doclen = base.select("doc_id", "dl")  # map-only projection
    return postings, df, doclen


def bm25_topk(
    postings: DataFrame,
    df: DataFrame,
    queries: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
) -> DataFrame:
    """Top-k docs per query by BM25 (Lucene idf variant, k1=1.2, b=0.75).

    ``queries``: (query_id, term) rows — small relative to the corpus;
    it and its idf-annotated join with ``df`` ride broadcasts, so the
    postings table is scanned once and never reshuffled. ``n_docs`` and
    ``avgdl`` are corpus constants (collect them once at index build).

    Output: (query_id, rank, doc_id, score) with rank 1..k ordered by
    (round(score, 6) DESC, doc_id) — keep ``score`` out of any
    cross-engine hash.
    """
    qterms = queries.select("query_id", "term").distinct()
    # idf per query term: ln(1 + (N - df + 0.5)/(df + 0.5)); terms absent
    # from the corpus simply drop out of the postings join
    qw = df.join(F.broadcast(qterms), "term").select(
        "query_id",
        "term",
        F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
    )
    k1, b = 1.2, 0.75
    tf, dl = F.col("tf").cast("double"), F.col("dl").cast("double")
    hits = postings.join(F.broadcast(qw), "term").select(
        "query_id",
        "doc_id",
        (
            F.col("idf")
            * tf
            * (F.lit(k1) + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl)))
        ).alias("s"),
    )
    scored = hits.groupBy("query_id", "doc_id").agg(F.sum("s").alias("score"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
