"""Exact duplicated-substring removal (ExactSubstr span dedup).

The third classic dedup granularity after document-level (exact/minhash,
``operators/dedup.py``) and line-level (``operators/cleaning.py``):
remove every *repeated passage* — any k-token window whose exact token
sequence occurs at more than one (doc, position) site in the corpus —
keeping one canonical occurrence.  This is the ExactSubstr pass of
Lee et al., "Deduplicating Training Data Makes Language Models Better"
(ACL 2022), which builds a corpus-wide suffix array; a suffix array
needs shared memory, so the Spark-native shape used here is the
rolling-hash equivalent:

1. one corpus pass rolling-hashes every k-token window
   (``mapInPandas`` → one (id, pos, h1, h2) row per window — the same
   O(total tokens) working set the suffix array holds, but shuffleable);
2. one hash-keyed shuffle groups identical windows; a window hash seen
   at >= 2 sites is duplicated, and the occurrence with the smallest
   (id, pos) is the keeper — a pure function of the corpus, so the
   result is partitioning- and parallelism-independent;
3. non-keeper occurrences flow back (hash-keyed join, reusing the
   groupBy exchange under AQE) as per-doc removal positions;
4. per-doc interval merge + token cut (overlapping windows of one long
   duplicated passage collapse into one removed span).

Scale: the only corpus-sized shuffle is keyed on 16-byte window hashes
(text never shuffles); the duplicated-hash side is output-sized; per-doc
state in the cut stage is bounded by document length.  Hash identity is
122 bits (two independent polynomial hashes mod 2^61-1 over 64-bit
token hashes), so false merges are birthday-bounded ~n^2/2^123 — at
10^12 windows that is ~4e-14 expected collisions; the pure-python twin
in scripts/build_oracles.py recomputes the same definition end-to-end.

Tokens are ASCII-whitespace-delimited (``str.split()``), matching the
corpus scope documented in ``operators/bpe.py``; output text is
single-space normalized on every row (cut or not) so the contract is
uniform.
"""

from __future__ import annotations

from zlib import crc32

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cov_tiles_spark.rows import map_rows

_M61 = (1 << 61) - 1
_B1 = 1_000_003
_B2 = 998_244_353


def _token_hash(tok: str) -> int:
    """64-bit token identity from two salted CRC32s (C-speed; a python
    bytes-walk FNV here would dominate the corpus pass)."""
    b = tok.encode("utf-8")
    return crc32(b) | (crc32(b"\x01" + b) << 32)


def _window_hashes(tokens: list[str], k: int) -> list[tuple[int, int]]:
    """(h1, h2) polynomial rolling hashes of every k-token window.

    Pure-python int walk: windows per doc are typically well under the
    ~256-value numpy break-even (see CLAUDE.md numpy-setup gotcha).
    """
    n = len(tokens)
    if n < k:
        return []
    th = [_token_hash(t) for t in tokens]
    p1 = pow(_B1, k - 1, _M61)
    p2 = pow(_B2, k - 1, _M61)
    h1 = h2 = 0
    for t in th[:k]:
        h1 = (h1 * _B1 + t) % _M61
        h2 = (h2 * _B2 + t) % _M61
    out = [(h1, h2)]
    for i in range(k, n):
        h1 = ((h1 - th[i - k] * p1) * _B1 + th[i]) % _M61
        h2 = ((h2 - th[i - k] * p2) * _B2 + th[i]) % _M61
        out.append((h1, h2))
    return out


def window_hash_rows(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """One (id, pos, h1, h2) row per k-token window of the corpus."""

    def windows(text):
        return [
            (pos, h1, h2)
            for pos, (h1, h2) in enumerate(_window_hashes(text.split(), k))
        ]

    # pin the hashing stage's parallelism (CLAUDE.md): a single-row-group
    # corpus parquet otherwise runs the Python window-hash pass on 1-2
    # scan tasks. Keyed repartition: deterministic under retry.
    par = df.sparkSession.sparkContext.defaultParallelism
    return map_rows(
        df.select(id_col, text_col).repartition(par, id_col),
        f"{id_col} long, pos int, h1 long, h2 long", (text_col,),
        ("pos", "h1", "h2"), windows,
    )


def _merge_cut(tokens: list[str], positions: list[int], k: int) -> tuple[str, int]:
    """Drop tokens covered by [p, p+k) for each removal position."""
    merged: list[list[int]] = []
    for p in sorted(positions):
        if merged and p <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], p + k)
        else:
            merged.append([p, p + k])
    kept, cursor = [], 0
    for s, e in merged:
        kept.extend(tokens[cursor:s])
        cursor = max(cursor, e)
    kept.extend(tokens[cursor:])
    return " ".join(kept), len(tokens) - len(kept)


def exact_span_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    skew_safe: bool = False,
) -> DataFrame:
    """Remove every duplicated k-token window, keeping the occurrence
    with the smallest (id, pos).  Returns one row per input document:
    (id, clean_text, n_tokens, n_removed).

    The hashed-window table is persisted (~20 B/window, MEMORY_AND_DISK)
    so the Python hashing pass runs once — it feeds both the duplicate
    aggregation and the occurrence join, and exchange reuse can't cover
    it (the groupBy side has a partial aggregate below its exchange, so
    the two shuffle subtrees differ).  At corpus scale this trades ~2-3%
    of corpus size in spill for halving the dominant Python stage.  The
    cache entry lives until the session drops it (the returned plan is
    lazy, so the operator cannot unpersist it itself).

    ``skew_safe`` guards the one skew exposure: a planet-hot window (a
    boilerplate passage in a large fraction of the corpus) puts every
    occurrence row of one (h1, h2) key into a single task of the
    occurrences⋈dups join.  AQE's OptimizeSkewedJoin is the right tool —
    the join is Inner, so a skewed left partition can be split with the
    matching right partition duplicated — but the rule only pattern-
    matches ``SMJ(Sort(shuffle stage), Sort(shuffle stage))``, and here
    the dups side carries its FINAL AGGREGATE between its exchange and
    the join, so the rule never fires regardless of thresholds (measured:
    a 0.9M-occurrence hot window rides one task, 58 MiB vs 150 KiB
    median map output — scripts/spandedup_skew_smoke.py).  Passing True
    truncates the dups lineage with ``localCheckpoint(eager=False)``:
    the join then re-shuffles the (duplicate-hash-sized, i.e. small)
    dups table from a clean scan, both join children become bare shuffle
    stages, and the skew split engages (``SortMergeJoin(skew=true)``,
    plan-pinned in tests/test_plans.py).  Costs one extra dups-sized
    exchange + local materialization; lineage truncation means the plan
    below the checkpoint is not re-derivable and does not survive
    executor loss (fine inside one job, the reason it is not the
    default).

    Adoption caveat (measured, scripts/spandedup_skew_smoke.py): AQE
    keeps a skew replan only if its shuffle count doesn't grow.  When
    the caller's input DataFrame feeds BOTH the window pipeline and the
    final text join through one shared exchange (e.g. an upstream
    ``repartition``), the replan breaks that reuse, the cost evaluator
    counts +1 shuffle, and the proposed split is silently reverted —
    set ``spark.sql.adaptive.forceOptimizeSkewedJoin=true`` alongside
    ``skew_safe`` for hot corpora in that shape."""
    w = window_hash_rows(df, text_col, id_col, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dups = (
        w.groupBy("h1", "h2")
        .agg(
            F.count("*").alias("_n"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_keeper"),
        )
        .filter(F.col("_n") >= 2)
        .select("h1", "h2", "_keeper")
    )
    if skew_safe:
        dups = dups.localCheckpoint(eager=False)
    removals = (
        w.join(dups, ["h1", "h2"])
        .filter(
            ~(
                (F.col(id_col) == F.col(f"_keeper.{id_col}"))
                & (F.col("pos") == F.col("_keeper.pos"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_rm"))
    )
    joined = df.select(id_col, text_col).join(removals, id_col, "left")

    def cut(text, rm):
        tokens = text.split()
        if rm is None or len(rm) == 0:
            return [(" ".join(tokens), len(tokens), 0)]
        clean, n_rm = _merge_cut(tokens, [int(p) for p in rm], k)
        return [(clean, len(tokens), n_rm)]

    return map_rows(
        joined,
        f"{id_col} long, clean_text string, n_tokens long, n_removed long",
        (text_col, "_rm"), ("clean_text", "n_tokens", "n_removed"), cut,
    )
