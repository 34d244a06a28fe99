"""Training-sequence packing: arrange variable-length documents into
fixed-capacity token sequences (the batch shape every LLM pretraining
run consumes).

Two standard disciplines, both deterministic pure functions of the
corpus (hash-ordered, so the result is independent of partitioning,
parallelism, and engine):

* ``pack_concat`` — the GPT-2/3-style "concatenate and chunk" packer:
  documents are laid end-to-end in a deterministic pseudo-random order
  and the stream is cut every ``max_len`` tokens.  Every sequence is
  exactly full (except each shard's last); documents may straddle a
  boundary, so the output is one row per (document, sequence) SPAN.
  Fully JVM-side: one hash shuffle onto shards, a per-shard window
  prefix-sum, and an arithmetic span explode — no Python anywhere, and
  the whole computation is expressible in ANSI SQL (the driver gate
  recomputes it end-to-end in DuckDB).

* ``pack_bins`` — no-split next-fit packing (T5/packed-BERT style):
  documents are kept whole; in the same deterministic order, a document
  is appended to the current open sequence if it fits, else the
  sequence is closed and a new one opened.  Documents longer than
  ``max_len`` get a sequence of their own, flagged ``oversize`` (the
  consumer truncates or chunks).  The per-shard recurrence is
  inherently sequential, so it runs as a sorted-stream ``mapInPandas``
  (cross-batch carry state, many shards per task — the
  ``pipeline/materialize.py`` ``_make_encode_stream`` pattern), with a
  pure-python twin in ``scripts/build_oracles.py`` gating it.

Scale shape (both): the only corpus-wide movement is ONE shuffle of
(id, n_tokens) rows — ~16 B/doc, text never moves — keyed by a shard
hash; shards are the parallelism unit (pick num_shards >> cluster
cores; each shard's sequence ids are local, so shards never
coordinate).  Packing state per task is O(1).  Determinism comes from
the portable two-round hash (operators/sampling.py ``sample_hash``)
ordering docs inside each shard; the hash order also serves as the
shuffle randomization every packing pipeline wants (long docs spread
uniformly instead of clustering by corpus position).

Reference scope: the reference engine (springmeyer/cov-tiles) has no
text-training operators; this extends the training-data family
(operators/bpe.py, operators/spandedup.py) per SURVEY.md §2's
"beyond the reference" charter.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cov_tiles_spark.operators.sampling import sample_hash

_RING = 1 << 31


def _sharded(
    df: DataFrame, id_col: str, len_col: str, num_shards: int
) -> DataFrame:
    """(id, len, shard, _h) with the deterministic order key."""
    h = sample_hash(F.col(id_col))
    return df.select(
        F.col(id_col),
        F.col(len_col).cast("long").alias("_len"),
        F.pmod(h, F.lit(num_shards)).cast("int").alias("shard"),
        h.alias("_h"),
    )


def pack_concat(
    df: DataFrame,
    id_col: str,
    len_col: str,
    max_len: int,
    num_shards: int = 1024,
) -> DataFrame:
    """Concat-and-chunk packing spans.

    Returns one row per (document, sequence) span:

    ==============  =====================================================
    ``id_col``      document id
    ``shard``       int, ``pmod(hash(id), num_shards)``
    ``seq``         long, sequence index within the shard
    ``tok_start``   first token of the document in this span (inclusive)
    ``tok_end``     one past the last token (``tok_end - tok_start`` =
                    tokens of this doc in this sequence)
    ``seq_off``     where the span starts inside the sequence
    ==============  =====================================================

    Documents are ordered by ``(hash(id), id)`` inside their shard; the
    exclusive prefix sum of lengths places each at offset ``off``; it
    occupies sequences ``off // max_len .. (off+len-1) // max_len``.
    Zero-length documents are dropped (they occupy no tokens).

    Plan: Exchange(shard) -> per-shard window prefix sum -> arithmetic
    ``F.sequence`` explode.  The window partitions by shard, so its sort
    is per-shard local and parallelism equals ``num_shards``.
    """
    if max_len <= 0:
        raise ValueError(f"max_len must be positive, got {max_len}")
    s = _sharded(df, id_col, len_col, num_shards).filter(
        F.col("_len") > 0
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("_len").over(w), F.lit(0))
    s = s.withColumn("_off", off)
    first = (F.col("_off") / max_len).cast("long")
    last = ((F.col("_off") + F.col("_len") - 1) / max_len).cast("long")
    s = s.withColumn("seq", F.explode(F.sequence(first, last)))
    span_start = F.greatest(F.col("_off"), F.col("seq") * max_len)
    span_end = F.least(
        F.col("_off") + F.col("_len"), (F.col("seq") + 1) * max_len
    )
    return s.select(
        id_col,
        "shard",
        "seq",
        (span_start - F.col("_off")).cast("long").alias("tok_start"),
        (span_end - F.col("_off")).cast("long").alias("tok_end"),
        (span_start - F.col("seq") * max_len).cast("long").alias("seq_off"),
    )


def pack_bins(
    df: DataFrame,
    id_col: str,
    len_col: str,
    max_len: int,
    num_shards: int = 1024,
) -> DataFrame:
    """Next-fit whole-document packing.

    Returns one row per document: ``(id, shard, seq, seq_pos, n_tokens,
    oversize)`` where ``seq`` numbers sequences within the shard in
    packing order, ``seq_pos`` is the document's position inside its
    sequence, and ``oversize`` marks documents longer than ``max_len``
    (they sit alone in their sequence).  Zero-length documents are
    dropped.  Deterministic: the per-shard doc order is ``(hash(id),
    id)``, so the packing is a pure function of (corpus, max_len,
    num_shards).

    The next-fit recurrence (running fill with resets) has no closed
    form, so each shard is walked sequentially — but shards are
    independent, and within a task the walk is a plain int loop over
    Arrow-delivered arrays (cheap next to everything upstream of it).
    """
    if max_len <= 0:
        raise ValueError(f"max_len must be positive, got {max_len}")
    s = _sharded(df, id_col, len_col, num_shards).filter(
        F.col("_len") > 0
    )
    s = s.repartition(min(num_shards, 256), "shard").sortWithinPartitions("shard", "_h", id_col)

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_shard = None
        seq = fill = pos = 0
        for pdf in batches:
            ids, outsh = [], []
            seqs, poss, lens, over = [], [], [], []
            for did, ln, sh in zip(
                pdf[id_col], pdf["_len"], pdf["shard"]
            ):
                ln = int(ln)
                if sh != cur_shard:
                    cur_shard, seq, fill, pos = sh, 0, 0, 0
                if ln > max_len:
                    # oversize: its own sequence, current one stays open
                    if fill > 0:
                        seq += 1
                    ids.append(did); outsh.append(sh)
                    seqs.append(seq); poss.append(0)
                    lens.append(ln); over.append(True)
                    seq += 1
                    fill = pos = 0
                    continue
                if fill + ln > max_len:
                    seq += 1
                    fill = pos = 0
                ids.append(did); outsh.append(sh)
                seqs.append(seq); poss.append(pos)
                lens.append(ln); over.append(False)
                fill += ln
                pos += 1
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "shard": pd.Series(outsh, dtype="int32"),
                    "seq": pd.Series(seqs, dtype="int64"),
                    "seq_pos": pd.Series(poss, dtype="int32"),
                    "n_tokens": pd.Series(lens, dtype="int64"),
                    "oversize": pd.Series(over, dtype="bool"),
                }
            )

    id_type = dict(s.dtypes)[id_col]
    return s.mapInPandas(
        walk,
        schema=(
            f"{id_col} {id_type}, shard int, seq long, seq_pos int, "
            "n_tokens long, oversize boolean"
        ),
    )


# SDXL-style resolution buckets (ratio ladder ~0.33 .. 3.0); only the
# ratios matter for assignment.
ASPECT_BUCKETS = [
    (256, 256), (288, 224), (224, 288), (320, 192), (192, 320),
    (384, 128), (128, 384),
]


def aspect_buckets(
    df: DataFrame,
    id_col: str,
    w_col: str,
    h_col: str,
    batch_size: int = 16,
    num_shards: int = 64,
) -> DataFrame:
    """Aspect-ratio bucketing + batch packing for image training.

    Variable-resolution image corpora are trained in fixed-shape
    batches: every image is assigned to the resolution bucket whose
    aspect ratio is nearest (it will be resized/cropped to that shape),
    then bucket members are grouped into training batches of
    ``batch_size``.  Returns one row per image: ``(id, bucket,
    bucket_w, bucket_h, shard, batch, batch_pos)``.

    Assignment is a map-only argmin of ``|w/h - bw/bh|`` (double; both
    engines evaluate the identical IEEE expression, so the driver gate
    can recompute it in SQL), ties to the lowest bucket index.  Batching
    is deterministic: images ordered by ``(hash(id), id)`` inside
    (bucket, shard) — the hash doubles as the shuffle randomization —
    and cut every ``batch_size``.

    Scale: the only shuffle is the window exchange keyed on (bucket,
    shard); without the shard salt a 7-bucket corpus would serialize
    into 7 window partitions, so parallelism is |buckets| x
    ``num_shards`` and batch ids are (bucket, shard)-local, exactly the
    per-shard independence the packing operators above use.
    """
    aspect = F.col(w_col).cast("double") / F.col(h_col).cast("double")
    cands = F.array(
        *[
            F.struct(
                F.abs(aspect - F.lit(float(bw) / float(bh))).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, (bw, bh) in enumerate(ASPECT_BUCKETS)
        ]
    )
    best = F.array_min(cands)["i"]
    bw = F.element_at(
        F.array(*[F.lit(bw) for bw, _ in ASPECT_BUCKETS]), best + 1
    )
    bh = F.element_at(
        F.array(*[F.lit(bh) for _, bh in ASPECT_BUCKETS]), best + 1
    )
    h = sample_hash(F.col(id_col))
    s = df.select(
        F.col(id_col),
        best.alias("bucket"),
        bw.alias("bucket_w"),
        bh.alias("bucket_h"),
        F.pmod(h, F.lit(num_shards)).cast("int").alias("shard"),
        h.alias("_h"),
    )
    rn = F.row_number().over(
        Window.partitionBy("bucket", "shard").orderBy("_h", id_col)
    )
    return s.withColumn("_rn", rn - 1).select(
        id_col,
        "bucket",
        "bucket_w",
        "bucket_h",
        "shard",
        (F.col("_rn") / batch_size).cast("long").alias("batch"),
        (F.col("_rn") % batch_size).cast("int").alias("batch_pos"),
    )
