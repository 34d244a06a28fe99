"""Sequence packing (operators/packing.py): python-twin equality,
packing invariants, determinism under repartitioning."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
RING = 1 << 31


def _hash_py(key: int, seed: int = 0) -> int:
    """Independent replica of operators/sampling.py sample_hash."""
    x0 = ((key % RING) + RING) % RING
    x = (x0 + (seed * 2_654_435_769 + 1) % RING) % RING
    h1 = (x * 2654435761 + 1) % RING
    h2 = h1 ^ (h1 >> 15)
    return (h2 * 2246822519) % RING


def _shard_order(rows, num_shards, seed):
    shards = defaultdict(list)
    for i, ln in rows:
        if ln <= 0:
            continue
        h = _hash_py(i, seed)
        shards[h % num_shards].append((h, i, ln))
    for docs in shards.values():
        docs.sort()
    return shards


def _pack_concat_py(rows, max_len, num_shards, seed=0):
    out = []
    for sh, docs in _shard_order(rows, num_shards, seed).items():
        off = 0
        for _, i, ln in docs:
            for b in range(off // max_len, (off + ln - 1) // max_len + 1):
                s = max(off, b * max_len)
                e = min(off + ln, (b + 1) * max_len)
                out.append((i, sh, b, s - off, e - off, s - b * max_len))
            off += ln
    return sorted(out)


def _pack_bins_py(rows, max_len, num_shards, seed=0):
    out = []
    for sh, docs in _shard_order(rows, num_shards, seed).items():
        seq = fill = pos = 0
        for _, i, ln in docs:
            if ln > max_len:
                if fill > 0:
                    seq += 1
                out.append((i, sh, seq, 0, ln, True))
                seq += 1
                fill = pos = 0
                continue
            if fill + ln > max_len:
                seq += 1
                fill = pos = 0
            out.append((i, sh, seq, pos, ln, False))
            fill += ln
            pos += 1
    return sorted(out)


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    t = F.col("text")
    spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    n = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(spaces + 1)
    return d.select("doc_id", n.cast("long").alias("n_tokens"))


@pytest.fixture(scope="module")
def doc_rows(docs):
    return [(r.doc_id, r.n_tokens) for r in docs.collect()]


def test_pack_concat_matches_python_twin(docs, doc_rows):
    from cov_tiles_spark.operators.packing import pack_concat

    got = sorted(
        tuple(r)
        for r in pack_concat(
            docs, "doc_id", "n_tokens", max_len=64, num_shards=4
        ).collect()
    )
    assert got == _pack_concat_py(doc_rows, 64, 4)


def test_pack_concat_interior_sequences_full(docs):
    from cov_tiles_spark.operators.packing import pack_concat

    pc = pack_concat(docs, "doc_id", "n_tokens", max_len=64, num_shards=4)
    agg = pc.groupBy("shard", "seq").agg(
        F.sum(F.col("tok_end") - F.col("tok_start")).alias("fill")
    )
    mseq = agg.groupBy("shard").agg(F.max("seq").alias("m"))
    bad = (
        agg.join(mseq, "shard")
        .filter((F.col("seq") < F.col("m")) & (F.col("fill") != 64))
        .count()
    )
    assert bad == 0


def test_pack_concat_spans_cover_every_token(docs, doc_rows):
    from cov_tiles_spark.operators.packing import pack_concat

    per_doc = (
        pack_concat(docs, "doc_id", "n_tokens", max_len=64, num_shards=4)
        .groupBy("doc_id")
        .agg(F.sum(F.col("tok_end") - F.col("tok_start")).alias("toks"))
        .collect()
    )
    want = {i: ln for i, ln in doc_rows if ln > 0}
    got = {r.doc_id: r.toks for r in per_doc}
    assert got == want


def test_pack_bins_matches_python_twin(docs, doc_rows):
    from cov_tiles_spark.operators.packing import pack_bins

    got = sorted(
        tuple(r)
        for r in pack_bins(
            docs, "doc_id", "n_tokens", max_len=64, num_shards=4
        ).collect()
    )
    assert got == _pack_bins_py(doc_rows, 64, 4)


def test_pack_bins_partitioning_independent(docs):
    from cov_tiles_spark.operators.packing import pack_bins

    a = sorted(
        tuple(r)
        for r in pack_bins(
            docs, "doc_id", "n_tokens", max_len=96, num_shards=8
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in pack_bins(
            docs.repartition(13), "doc_id", "n_tokens", max_len=96,
            num_shards=8,
        ).collect()
    )
    assert a == b


def test_pack_bins_never_overflows(docs):
    from cov_tiles_spark.operators.packing import pack_bins

    pb = pack_bins(docs, "doc_id", "n_tokens", max_len=64, num_shards=4)
    bad = (
        pb.groupBy("shard", "seq")
        .agg(
            F.sum("n_tokens").alias("s"),
            F.max(F.col("oversize").cast("int")).alias("o"),
            F.count("*").alias("n"),
        )
        .filter(
            ((F.col("s") > 64) & (F.col("o") == 0))
            | ((F.col("o") == 1) & (F.col("n") > 1))
        )
        .count()
    )
    assert bad == 0


def test_pack_concat_is_jvm_only(docs):
    from cov_tiles_spark.operators.packing import pack_concat

    plan = pack_concat(
        docs, "doc_id", "n_tokens", max_len=64, num_shards=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEval" not in plan


def _aspect_py(rows, buckets, batch_size, num_shards, seed=0):
    """Independent replay of aspect_buckets: argmin |w/h - bw/bh|,
    tie to lowest index; hash-ordered batches inside (bucket, shard)."""
    assigned = defaultdict(list)
    for i, w, h in rows:
        d, bi = min(
            (abs(w / h - bw / bh), j) for j, (bw, bh) in enumerate(buckets)
        )
        hh = _hash_py(i, seed)
        assigned[(bi, hh % num_shards)].append((hh, i, bi))
    out = []
    for (bi, sh), mem in assigned.items():
        mem.sort()
        for rn, (_, i, _) in enumerate(mem):
            out.append(
                (i, bi, buckets[bi][0], buckets[bi][1], sh,
                 rn // batch_size, rn % batch_size)
            )
    return sorted(out)


def test_aspect_buckets_matches_python_twin(spark):
    from cov_tiles_spark.operators.packing import (
        ASPECT_BUCKETS,
        aspect_buckets,
    )

    dims = spark.range(2000).select(
        F.col("id").alias("image_id"),
        F.element_at(
            F.array(F.lit(16), F.lit(32), F.lit(64)),
            F.pmod(F.col("id"), F.lit(3)).cast("int") + 1,
        ).alias("w"),
        F.element_at(
            F.array(F.lit(16), F.lit(32), F.lit(48)),
            F.pmod((F.col("id") / 3).cast("long"), F.lit(3)).cast("int") + 1,
        ).alias("h"),
    )
    got = sorted(
        tuple(r)
        for r in aspect_buckets(
            dims, "image_id", "w", "h", batch_size=8, num_shards=4
        ).collect()
    )
    rows = [
        (i, (16, 32, 64)[i % 3], (16, 32, 48)[(i // 3) % 3])
        for i in range(2000)
    ]
    assert got == _aspect_py(rows, ASPECT_BUCKETS, 8, 4)


def test_aspect_buckets_batches_well_formed(spark):
    from cov_tiles_spark.operators.packing import aspect_buckets

    dims = spark.range(1000).select(
        F.col("id").alias("image_id"),
        (F.lit(10) + F.pmod(F.col("id"), F.lit(50))).alias("w"),
        (F.lit(10) + F.pmod(F.col("id") * 7, F.lit(50))).alias("h"),
    )
    out = aspect_buckets(
        dims, "image_id", "w", "h", batch_size=8, num_shards=4
    )
    per_batch = out.groupBy("bucket", "shard", "batch").agg(
        F.count("*").alias("n"),
        F.countDistinct("batch_pos").alias("npos"),
        F.max("batch_pos").alias("mx"),
    )
    # positions are 0..n-1 with no duplicates, batches never exceed 8
    bad = per_batch.filter(
        (F.col("n") > 8) | (F.col("npos") != F.col("n"))
        | (F.col("mx") != F.col("n") - 1)
    ).count()
    assert bad == 0
    # only the LAST batch of each (bucket, shard) may be partial
    partials = (
        per_batch.filter(F.col("n") < 8)
        .groupBy("bucket", "shard")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert partials == 0
