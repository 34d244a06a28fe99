"""End-to-end training-data preparation recipe.

The FineWeb/RefinedWeb-shaped composition of the operator family into
one pipeline a user actually runs over a raw crawl:

    raw docs
      -> C4 line cleaning            (operators/cleaning.py, map + 1 shuffle)
      -> ExactSubstr span dedup      (operators/spandedup.py, 1 hash shuffle)
      -> exact doc dedup             (operators/dedup.py, hash agg)
      -> MinHash near-dup clustering (dedup.py + cluster.py, banded LSH + CC)
      -> quality score               (text.py heuristics, map)

Each stage is individually oracle-gated (see COVERAGE.md); this module
adds the *composition*: stage ordering that minimizes the bytes each
shuffle moves (cheap map-side prunes before expensive pairwise stages;
text-mutating stages before hash-identity stages so identities are
computed on the text that survives) and a per-stage decision log for
lineage. Decontamination (``operators/decontam.py``), LM perplexity
(``operators/ngram_lm.py``) and sampling (``operators/sampling.py``) are
map-side prunes a caller applies to the result; each has its own gate.

Scale notes: stages never collect the corpus; the only corpus-sized
shuffles are the ones the underlying operators already own (line dedup,
window dedup, minhash bands).  The decision columns ride along the
corpus rows, so the final write is one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cov_tiles_spark.operators.cleaning import c4_clean
from cov_tiles_spark.operators.cluster import dedup_clusters
from cov_tiles_spark.operators.dedup import minhash_near_dups
from cov_tiles_spark.operators.spandedup import exact_span_dedup
from cov_tiles_spark.operators.text import quality_score


def prepare_text_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words_per_line: int = 3,
    badwords: list[str] | None = None,
    span_k: int = 8,
    min_tokens_after_dedup: int = 10,
    minhash_threshold: float = 0.8,
) -> DataFrame:
    """Run the preparation stack; returns one row per SURVIVING
    document: (id, text, n_tokens, cluster, quality) with ``text`` the
    cleaned/cut text.

    Filters drop rows; text-mutating stages rewrite ``text``.  Order:

    1. line cleaning first — boilerplate lines vanish before any
       identity is computed, so dedup keys reflect real content;
    2. span dedup on the cleaned text; docs reduced below
       ``min_tokens_after_dedup`` tokens drop (C4 drops short docs);
    3. exact + near-dup doc dedup on the post-cut text (runs on the
       smallest possible corpus); non-canonical cluster members drop;
    4. a quality score column over the survivors.
    """
    cleaned = c4_clean(
        docs, text_col, id_col,
        min_words_per_line=min_words_per_line, badwords=badwords,
    ).select(id_col, F.col("clean_text").alias(text_col))

    cut = exact_span_dedup(cleaned, text_col, id_col, k=span_k).select(
        id_col,
        F.col("clean_text").alias(text_col),
        (F.col("n_tokens") - F.col("n_removed")).alias("n_tokens"),
    ).filter(F.col("n_tokens") >= min_tokens_after_dedup)

    # exact dedup folds into the near-dup pass: identical texts share
    # every minhash, so minhash pairs ⊇ exact pairs at threshold <= 1;
    # connected components then keeps one canonical doc per cluster.
    pairs = minhash_near_dups(
        cut, text_col, id_col, threshold=minhash_threshold
    )
    return (
        dedup_clusters(cut, pairs.select("id_a", "id_b"), id_col)
        .filter(F.col("is_canonical"))
        .drop("is_canonical")
        .withColumn("quality", quality_score(F.col(text_col)))
    )
