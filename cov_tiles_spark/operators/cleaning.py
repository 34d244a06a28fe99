"""C4/RefinedWeb-style line-level corpus cleaning.

The standard pre-training cleanup pass (Raffel et al. 2020 C4 §2.2;
RefinedWeb repeats it): split each document into lines, drop lines that
fail cheap quality rules, deduplicate surviving lines *globally across
the corpus* (C4 dedupes three-sentence spans corpus-wide — same shape),
then reassemble documents.

Spark shape, stage by stage:
- posexplode + the line filters are map-side (pure ``F.*`` lambdas —
  whole-stage codegen, filters run before any exchange so dropped lines
  never shuffle);
- global dedup is ONE shuffle keyed on the line text: groupBy line →
  min(struct(id, line_idx)) keeper → hash-keyed join back (AQE reuses
  the exchange).  Keeper choice is a pure corpus function, so output is
  partitioning-independent.  This is a deliberate contrast with
  ``array_distinct``-style per-doc dedup: the corpus-global rule is what
  kills boilerplate (cookie banners, nav footers) repeated across docs;
- reassembly is one groupBy(id) with sort_array(collect_list) — per-doc
  state bounded by document length.

Everything is JVM-side (zero Python), so the whole operator is
SQL-expressible and gated against a live DuckDB twin (q_c4_clean), not
a fixture parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def c4_clean(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words_per_line: int = 3,
    badwords: list[str] | None = None,
) -> DataFrame:
    """Line-filter + corpus-global line dedup + document reassembly.

    Returns one row per input document:
    (id, clean_text, n_lines, n_kept) — ``clean_text`` is the surviving
    lines re-joined with newlines ('' if none survive), ``n_lines`` the
    original line count.  Word counting splits on single spaces (lines
    are assumed space-normalized, as produced by the tokenizer scope in
    operators/bpe.py).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_idx", "line"),
    )
    keep = F.size(F.split(F.col("line"), " ")) >= min_words_per_line
    if badwords:
        bad = F.array(*[F.lit(w) for w in badwords])
        keep = keep & ~F.exists(
            F.split(F.col("line"), " "), lambda w: F.array_contains(bad, w)
        )
    filtered = lines.filter(keep)
    keepers = (
        filtered.groupBy("line")
        .agg(F.min(F.struct(F.col(id_col), F.col("line_idx"))).alias("_keeper"))
    )
    filtered = filtered.join(keepers, "line").filter(
        (F.col(id_col) == F.col(f"_keeper.{id_col}"))
        & (F.col("line_idx") == F.col("_keeper.line_idx"))
    )

    rebuilt = filtered.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        df.select(
            id_col,
            F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
        )
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )
