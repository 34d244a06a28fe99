"""Training-data operator correctness (dedup / similarity / text) against
planted ground truth and numpy brute-force oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cov_tiles_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    hamming_near_dups,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from cov_tiles_spark.operators.similarity import cosine_topk
from cov_tiles_spark.operators.text import STOPWORDS, fingerprint64, lang_id

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def _planted(df, id_col):
    clone = df.select((F.col(id_col) + 1_000_000).alias(id_col), *[
        c for c in df.columns if c != id_col
    ])
    return df.select(*clone.columns).unionAll(clone)


def test_exact_dedup_finds_planted(spark, docs):
    corpus = _planted(docs.select("doc_id", "text"), "doc_id")
    found = exact_dedup(corpus, "text", "doc_id").collect()
    # every original text now has >= 2 copies
    n_distinct = docs.select("text").distinct().count()
    assert len(found) == n_distinct
    assert all(r.n_copies >= 2 for r in found)


def test_minhash_finds_planted_pairs(spark, docs):
    corpus = _planted(docs.select("doc_id", "text"), "doc_id")
    pairs = minhash_near_dups(corpus, "text", "doc_id", threshold=0.95).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    missing = [(i, i + 1_000_000) for i in ids if (i, i + 1_000_000) not in got]
    assert not missing, f"planted exact copies not found: {missing[:5]}"
    # exact copies must carry estimate 1.0
    for r in pairs:
        if r.id_b == r.id_a + 1_000_000:
            assert r.jaccard_est == pytest.approx(1.0)


def test_simhash_finds_planted_pairs(spark, docs):
    corpus = _planted(docs.select("doc_id", "text"), "doc_id")
    pairs = simhash_near_dups(corpus, "text", "doc_id", max_hamming=0).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    assert all((i, i + 1_000_000) in got for i in ids)
    assert all(r.hamming == 0 for r in pairs if r.id_b == r.id_a + 1_000_000)


def test_hamming_near_dups_exact_recall_on_int64_hashes(spark):
    """The banded core on a raw int64 hash column (the phash path):
    every pair within the Hamming budget is found with its exact
    distance, pairs outside the budget are absent — verified against a
    brute-force python twin on a corpus engineered to include identical
    hashes, <=3-bit flips, and >3-bit flips crossing band boundaries."""
    rng = np.random.default_rng(7)
    base = rng.integers(-(1 << 62), 1 << 62, size=40, dtype=np.int64)
    rows = [(int(i), int(h)) for i, h in enumerate(base)]
    nxt = 1000
    for i, h in enumerate(base):
        nflips = i % 6  # 0..5: past the max_hamming=3 budget for 4,5
        hu = int(h) & (1 << 64) - 1
        for j in range(nflips):
            hu ^= 1 << ((i * 11 + j * 17) % 64)
        rows.append((nxt + i, hu - (1 << 64) if hu >= 1 << 63 else hu))
    df = spark.createDataFrame(rows, "nid long, ph long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_near_dups(df, "ph", "nid", max_hamming=3).collect()
    }
    # brute-force twin
    vals = {nid: ph & (1 << 64) - 1 for nid, ph in rows}
    want = {}
    ids = sorted(vals)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            d = bin(vals[ids[a]] ^ vals[ids[b]]).count("1")
            if d <= 3:
                want[(ids[a], ids[b])] = d
    assert got == want
    assert any(d == 0 for d in want.values())  # identical-hash path hit
    assert any(d == 3 for d in want.values())  # band-boundary path hit


def test_ngram_jaccard_finds_planted(spark, docs):
    corpus = _planted(docs.select("doc_id", "text"), "doc_id")
    pairs = ngram_jaccard_pairs(corpus, "text", "doc_id", threshold=0.999).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    assert all((i, i + 1_000_000) in got for i in ids)


def test_embedding_near_dups_finds_planted(spark, embs):
    corpus = _planted(embs.select("vec_id", "embedding"), "vec_id")
    pairs = embedding_near_dups(
        corpus, "embedding", "vec_id", dim=64, threshold=0.9999
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    ids = [r.vec_id for r in embs.select("vec_id").collect()]
    assert all((i, i + 1_000_000) in got for i in ids)


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark, caplog):
    """A degenerate corpus (50k identical docs — one giant LSH bucket)
    must complete in bounded time: the oversized bucket is dropped with a
    logged count, while pairs among the normal docs are still found."""
    import logging

    n_degenerate = 50_000
    junk = spark.range(n_degenerate).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit("lorem ipsum boilerplate footer text").alias("text"),
    )
    real = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight again"),
            (2, "the quick brown fox jumps over the lazy dog tonight again"),
            (3, "completely different content about spark shuffle partitions"),
        ],
        "doc_id long, text string",
    )
    corpus = real.unionAll(junk)
    with caplog.at_level(logging.WARNING, logger="cov_tiles_spark.operators.dedup"):
        pairs = minhash_near_dups(
            corpus, "text", "doc_id", threshold=0.9, max_bucket_size=100
        ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got, "real near-dup pair lost to the bucket cap"
    # no pair from the degenerate bucket survives (it was dropped+logged)
    assert not any(a >= 10_000_000 for a, _ in got)
    assert any("dropped" in rec.message for rec in caplog.records)

    # simhash collapses identical texts to ONE distinct signature, so the
    # degenerate corpus never even forms a big bucket; identical pairs are
    # emitted via the hamming-0 path, which lists every pair of an
    # identical group (the oracle contract, quadratic in the group size:
    # 1.25e9 pairs for all 50k copies, so this half keeps 200 of them)
    n_ident = 200
    spairs = simhash_near_dups(
        corpus.filter(F.col("doc_id") < 10_000_000 + n_ident),
        "text", "doc_id", max_hamming=0, max_bucket_size=100,
    ).collect()
    sgot = {(r.id_a, r.id_b) for r in spairs}
    assert (1, 2) in sgot
    junk_pairs = {(a, b) for a, b in sgot if a >= 10_000_000}
    assert len(junk_pairs) == n_ident * (n_ident - 1) // 2

    # the dropped identical docs are exactly what exact_dedup catches
    exact = exact_dedup(corpus, "text", "doc_id").collect()
    junk_row = [r for r in exact if r.n_copies == n_degenerate]
    assert len(junk_row) == 1 and junk_row[0].keeper_id == 10_000_000


def test_embedding_bucket_cap(spark):
    """Identical embeddings beyond the cap are dropped; distinct planted
    near-dups keep flowing (id-only candidates + vector rejoin path)."""
    rng = np.random.default_rng(3)
    base = rng.normal(size=64)
    rows = [(0, base.tolist()), (1, (base + rng.normal(0, 1e-4, 64)).tolist())]
    junk_vec = rng.normal(size=64).tolist()
    rows += [(100 + i, junk_vec) for i in range(500)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_dups(
        df, "embedding", "vec_id", dim=64, threshold=0.999, max_bucket_size=50
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got
    assert not any(a >= 100 for a, _ in got)


def test_cosine_topk_matches_numpy(spark, embs):
    rows = embs.collect()
    mat = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    ids = np.array([r.vec_id for r in rows])
    q = mat[ids.tolist().index(0)]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:10]
    expected = [int(ids[i]) for i in order]

    got = cosine_topk(embs, "embedding", "vec_id", q.tolist(), 10).collect()
    assert [r.id for r in sorted(got, key=lambda r: r.rank)] == expected


def _np_self_topk(rows, qids, k, different_label_only=False):
    """Pure-numpy twin of _self_retrieval_topk: per query id, the exact
    top-k (round(cos, 6) desc, id asc) neighbors, self excluded."""
    ids = [r[0] for r in rows]
    labels = {r[0]: r[1] for r in rows}
    mat = np.stack([np.asarray(r[2], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    out = {}
    for qid in qids:
        qi = ids.index(qid)
        cos = np.round(mat @ mat[qi] / (norms * norms[qi]), 6)
        cand = [
            (i, ids[i]) for i in range(len(ids))
            if ids[i] != qid
            and (not different_label_only or labels[ids[i]] != labels[qid])
        ]
        cand.sort(key=lambda t: (-cos[t[0]], t[1]))
        out[qid] = [(ids[i], labels[ids[i]], float(cos[i])) for i, _ in cand[:k]]
    return out


def test_retrieval_eval_matches_numpy_twin(spark):
    """Metrics equal a hand-rolled numpy computation on a corpus with
    real label structure (tight planted clusters => recall ~1)."""
    from cov_tiles_spark.operators.sampling import sample_hash, threshold
    from cov_tiles_spark.operators.similarity import retrieval_eval

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(5, 32))
    rows = [
        (i, i % 5, (centers[i % 5] + rng.normal(0, 0.05, 32)).tolist())
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    got = {
        r.label: r
        for r in retrieval_eval(
            df, "embedding", "vec_id", "label", k=10, query_rate=0.2, seed=5
        ).collect()
    }

    # replicate the deterministic query sample, in (hash, id) order
    sample = sorted(
        (r.h, r.vec_id)
        for r in df.select("vec_id", sample_hash(F.col("vec_id"), 5).alias("h"))
        .filter(F.col("h") < F.lit(threshold(0.2)))
        .collect()
    )

    def check(got, qids):
        top = _np_self_topk(rows, qids, 10)
        agg = {}
        for qid in qids:
            qlabel = qid % 5
            ranks = [i + 1 for i, (_, lab, _) in enumerate(top[qid]) if lab == qlabel]
            agg.setdefault(qlabel, []).append(
                (1 if ranks else 0, len(ranks) / 10.0, 1.0 / ranks[0] if ranks else 0.0)
            )
        assert set(got) == set(agg)
        for lab, triples in agg.items():
            n = len(triples)
            assert got[lab].n_queries == n
            assert got[lab].recall_at_k == round(sum(t[0] for t in triples) / n, 6)
            assert got[lab].precision_at_k == round(sum(t[1] for t in triples) / n, 6)
            assert got[lab].mrr == round(sum(t[2] for t in triples) / n, 6)

    check(got, [i for _, i in sample])
    # tight clusters: same-label neighbors dominate
    assert all(r.recall_at_k == 1.0 and r.mrr == 1.0 for r in got.values())

    # the max_queries memory bound keeps the sample's 7 smallest
    # (hash, id) queries
    assert len(sample) > 7
    capped = {
        r.label: r
        for r in retrieval_eval(
            df, "embedding", "vec_id", "label", k=10, query_rate=0.2, seed=5,
            max_queries=7,
        ).collect()
    }
    check(capped, [i for _, i in sample[:7]])


def test_hard_negatives_exact_and_partitioning_independent(spark):
    """Operator equals the numpy twin (different-label filter BEFORE
    top-k), every negative's label differs from the query's, neg_rank is
    dense 1..k, and the result is partitioning-independent."""
    from cov_tiles_spark.operators.sampling import sample_hash, threshold
    from cov_tiles_spark.operators.similarity import hard_negatives

    rng = np.random.default_rng(13)
    rows = [(i, i % 4, rng.normal(size=16).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = hard_negatives(
        df, "embedding", "vec_id", "label", k=5, query_rate=0.15, seed=5
    ).collect()

    qids = [
        r.vec_id
        for r in df.select("vec_id")
        .filter(sample_hash(F.col("vec_id"), 5) < F.lit(threshold(0.15)))
        .collect()
    ]
    twin = _np_self_topk(rows, qids, 5, different_label_only=True)
    per = {}
    for r in out:
        assert r.label != r.query_label
        per.setdefault(r.query_id, []).append((r.neg_rank, r.id, r.label))
    assert set(per) == set(qids)
    for qid, entries in per.items():
        entries.sort()
        assert [e[0] for e in entries] == [1, 2, 3, 4, 5]
        assert [(e[1], e[2]) for e in entries] == [
            (i, lab) for i, lab, _ in twin[qid]
        ]
    again = sorted(
        (r.query_id, r.neg_rank, r.id)
        for r in hard_negatives(
            df.repartition(7), "embedding", "vec_id", "label",
            k=5, query_rate=0.15, seed=5,
        ).collect()
    )
    assert again == sorted((r.query_id, r.neg_rank, r.id) for r in out)


def test_max_queries_caps_broadcast_side(spark):
    """A binding max_queries keeps the cap-many smallest sample-hash
    query ids (deterministic, partitioning-independent) — the absolute
    bound that keeps the broadcast side driver-safe when the rate sample
    grows with the corpus; a non-binding cap is a no-op."""
    from cov_tiles_spark.operators.sampling import sample_hash, threshold
    from cov_tiles_spark.operators.similarity import hard_negatives

    rng = np.random.default_rng(17)
    rows = [(i, i % 3, rng.normal(size=8).tolist()) for i in range(150)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    full = hard_negatives(
        df, "embedding", "vec_id", "label", k=3, query_rate=0.5, seed=5
    ).collect()
    capped = hard_negatives(
        df.repartition(5), "embedding", "vec_id", "label",
        k=3, query_rate=0.5, seed=5, max_queries=7,
    ).collect()
    hashes = {
        r.vec_id: r.h
        for r in df.select(
            "vec_id", sample_hash(F.col("vec_id"), 5).alias("h")
        ).collect()
        if r.h < threshold(0.5)
    }
    keep = set(sorted(hashes, key=lambda i: (hashes[i], i))[:7])
    assert {r.query_id for r in capped} == keep
    expect = sorted(
        (r.query_id, r.neg_rank, r.id) for r in full if r.query_id in keep
    )
    assert sorted((r.query_id, r.neg_rank, r.id) for r in capped) == expect
    # non-binding cap: identical to the pure rate sample
    nocap = hard_negatives(
        df, "embedding", "vec_id", "label", k=3, query_rate=0.5, seed=5,
        max_queries=100000,
    ).collect()
    assert sorted((r.query_id, r.neg_rank, r.id) for r in nocap) == sorted(
        (r.query_id, r.neg_rank, r.id) for r in full
    )


def test_ivf_topk_exact_when_all_lists_probed(spark, embs):
    """nprobe == n_centroids degrades IVF to exact brute force — results
    must equal the numpy oracle exactly (this is also how the driver
    gate oracles q_ivf_topk)."""
    from cov_tiles_spark.operators.similarity import (
        ivf_topk, ivf_train_centroids,
    )

    rows = embs.collect()
    mat = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    ids = np.array([r.vec_id for r in rows])
    q = mat[ids.tolist().index(1)]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:10]
    expected = [int(ids[i]) for i in order]

    cents = ivf_train_centroids(embs, "embedding", "vec_id", n_centroids=8)
    cents2 = ivf_train_centroids(embs, "embedding", "vec_id", n_centroids=8)
    assert np.array_equal(cents, cents2)  # deterministic quantizer

    got = ivf_topk(embs, "embedding", "vec_id", q.tolist(), 10, cents, nprobe=8).collect()
    assert [r.id for r in sorted(got, key=lambda r: r.rank)] == expected


def test_ivf_recall_on_clustered_data(spark):
    """With real cluster structure, probing a few inverted lists recovers
    the exact neighbors (the quantizer's cells align with the clusters)."""
    from cov_tiles_spark.operators.similarity import (
        ivf_topk, ivf_train_centroids,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(20, 64))
    vecs = []
    for i in range(400):
        c = centers[i % 20]
        vecs.append((i, (c + rng.normal(0, 0.05, 64)).astype(float).tolist()))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    q = vecs[0][1]
    mat = np.array([v for _, v in vecs])
    sims = mat @ np.array(q) / (
        np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
    )
    exact = {int(i) for i, _ in sorted(
        zip([i for i, _ in vecs], -sims), key=lambda t: (t[1], t[0])
    )[:10]}

    cents = ivf_train_centroids(df, "embedding", "vec_id", n_centroids=20)
    got = ivf_topk(df, "embedding", "vec_id", q, 10, cents, nprobe=3).collect()
    recall = len({r.id for r in got} & exact) / 10
    assert recall >= 0.8, f"IVF recall too low on clustered data: {recall}"
    assert 0 in {r.id for r in got}


def test_lang_id_on_planted_sentences(spark):
    """The testdata documents are English-ish word soup for every lang
    label, so accuracy-vs-label is meaningless there; plant real
    sentences per language instead."""
    samples = [
        (0, "the cat and the dog of the house is big", "en"),
        (1, "der hund und die katze ist das beste tier", "de"),
        (2, "le chat et la maison les arbres des fleurs", "fr"),
        (3, "el perro y la casa es los gatos", "es"),
        (4, "xyzzy qwerty plugh", "und"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string, expected string")
    got = df.select("expected", lang_id(F.col("text")).alias("pred")).collect()
    for r in got:
        assert r.pred == r.expected, (r.expected, r.pred)


def test_fingerprint_deterministic_and_distinct(spark, docs):
    a = {r.doc_id: r.fp for r in docs.select(
        "doc_id", fingerprint64(F.col("text")).alias("fp")).collect()}
    b = {r.doc_id: r.fp for r in docs.select(
        "doc_id", fingerprint64(F.col("text")).alias("fp")).collect()}
    assert a == b
    texts = docs.select("doc_id", "text").collect()
    n_unique_texts = len({r.text for r in texts})
    assert len(set(a.values())) == n_unique_texts


def test_bpe_token_count_on_tricky_strings(spark):
    """JVM regexp_count of BPE_PATTERN vs hand-derived expected counts
    (contractions, optional-space runs, digits, punctuation clusters,
    unicode letters, whitespace runs)."""
    import pandas as pd
    from cov_tiles_spark.operators.text import token_count_bpe

    cases = [
        ("hello world", 2),          # "hello", " world"
        ("it's we'll don't", 6),     # it / 's / " we" / 'll / " don" / 't
        ("abc123", 2),               # "abc", "123"
        ("a  b", 3),                 # "a", " " (ws run of 1: 'a',' b' -> actually "a"," " ?): see scanner
        ("straße café", 2),
        ("x!!, y", 3),               # "x", "!!,", " y"
        ("", 0),
        ("   ", 1),                  # one whitespace run
        ("tab\tnl\n", 4),            # "tab", "\t", "nl", "\n"
        ("3.14", 3),                 # "3", ".", "14"
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(cases)), "text": [c[0] for c in cases]})
    )
    got = {
        r.i: r.n
        for r in df.select("i", token_count_bpe(F.col("text")).alias("n")).collect()
    }
    # independent scanner from the oracle builder
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.build_oracles import _bpe_token_count_scalar

    for i, (text, expected) in enumerate(cases):
        scan = _bpe_token_count_scalar(text)
        assert got[i] == scan, (text, got[i], scan)
    # spot-check a few hand-derived counts
    assert got[0] == 2 and got[1] == 6 and got[6] == 0 and got[7] == 1


class TestSampling:
    """Deterministic sampling (operators/sampling.py): reproducibility,
    rate accuracy, stratified rates, and provable exact-k per group."""

    def _docs(self, spark, n=4000, groups=8):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("src"), (F.col("id") % groups).cast("string")).alias(
                "source"
            ),
        )

    def test_stratified_rates(self, spark):
        from cov_tiles_spark.operators.sampling import stratified_sample

        df = self._docs(spark)
        out = stratified_sample(
            df, "source", {"src0": 1.0, "src1": 0.5, "src2": 0.0},
            key_col="doc_id", default_rate=0.1,
        )
        got = {
            r.source: r.n
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert got["src0"] == 500  # rate 1.0 keeps everything
        assert "src2" not in got  # rate 0.0 drops everything
        assert abs(got["src1"] / 500 - 0.5) < 0.12
        for s in ("src3", "src4", "src5", "src6", "src7"):
            assert got.get(s, 0) < 120  # default 0.1

    def test_sample_per_group_exact_k_and_prefilter_equivalence(self, spark):
        from cov_tiles_spark.operators.sampling import sample_per_group

        df = self._docs(spark, n=6000, groups=5)  # 1200 per group
        fast_df = sample_per_group(df, ["source"], 7, "doc_id")
        slow_df = sample_per_group(df, ["source"], 7, "doc_id", prefilter=False)
        # both paths keep the input's columns, in order, then rank
        assert fast_df.columns == slow_df.columns == [*df.columns, "rank"]
        fast, slow = fast_df.collect(), slow_df.collect()
        key = lambda r: (r.source, r.rank)  # noqa: E731
        assert sorted((r.source, r.rank, r.doc_id) for r in fast) == sorted(
            (r.source, r.rank, r.doc_id) for r in slow
        )
        per = {}
        for r in fast:
            per[r.source] = per.get(r.source, 0) + 1
        assert all(v == 7 for v in per.values()) and len(per) == 5

    def test_sample_per_group_small_groups_return_all(self, spark):
        from cov_tiles_spark.operators.sampling import sample_per_group

        df = self._docs(spark, n=12, groups=4)  # 3 per group < k
        out = sample_per_group(df, ["source"], 5, "doc_id").collect()
        per = {}
        for r in out:
            per.setdefault(r.source, []).append(r.rank)
        assert all(sorted(v) == [1, 2, 3] for v in per.values()) and len(per) == 4

    def test_negative_keys_and_seed_independence(self, spark):
        """Regression: dividend-signed %% must not leak negative hashes
        (negative keys were kept at EVERY rate), and different seeds must
        draw near-independent samples (the old post-multiply additive
        seed made every seed a rotation of one ordering: 99%+ overlap)."""
        from cov_tiles_spark.operators.sampling import sample_hash, threshold

        def hash_sample(df, rate, seed=0):
            return df.filter(sample_hash(F.col("doc_id"), seed) < threshold(rate))

        neg = spark.range(-2000, 2000).select(F.col("id").alias("doc_id"))
        kept = hash_sample(neg, 0.25).collect()
        neg_kept = sum(1 for r in kept if r.doc_id < 0)
        assert 0 < neg_kept < 2000  # sampled, not all-kept / all-dropped
        assert abs(len(kept) / 4000 - 0.25) < 0.05
        zero_rate = hash_sample(neg, 0.0).count()
        assert zero_rate == 0

        df = spark.range(4000).select(F.col("id").alias("doc_id"))
        a = {r.doc_id for r in hash_sample(df, 0.4, seed=0).collect()}
        b = {r.doc_id for r in hash_sample(df, 0.4, seed=1).collect()}
        # independent draws overlap ~rate^2 * n / |a| = rate;
        # allow wide tolerance but rule out rotation (overlap ~= 1)
        overlap = len(a & b) / max(len(a), 1)
        assert overlap < 0.6, overlap

    def test_mixture_sample_multiplicities(self, spark):
        """floor(w) whole copies per row, plus Bernoulli(frac(w)) extras;
        epoch indices 0..n-1; w=0 drops; determinism across partitioning."""
        from cov_tiles_spark.operators.sampling import mixture_sample

        df = self._docs(spark, n=4000, groups=4)  # 1000 per source
        out = mixture_sample(
            df, "source",
            {"src0": 2.5, "src1": 1.0, "src2": 0.25, "src3": 0.0},
            key_col="doc_id",
        )
        rows = out.collect()
        per = {}
        for r in rows:
            per.setdefault(r.source, {}).setdefault(r.doc_id, []).append(r.epoch)
        assert "src3" not in per  # weight 0 drops everything
        # src1 w=1.0: exactly one copy each, epoch 0
        assert len(per["src1"]) == 1000
        assert all(v == [0] for v in per["src1"].values())
        # src0 w=2.5: every row >=2 copies, ~half get a third
        counts0 = [len(v) for v in per["src0"].values()]
        assert len(counts0) == 1000 and all(c in (2, 3) for c in counts0)
        assert abs(sum(counts0) / 1000 - 2.5) < 0.1
        for v in per["src0"].values():
            assert sorted(v) == list(range(len(v)))  # contiguous epochs
        # src2 w=0.25: only the Bernoulli quarter survive, 1 copy each
        counts2 = [len(v) for v in per["src2"].values()]
        assert all(c == 1 for c in counts2)
        assert abs(len(counts2) / 1000 - 0.25) < 0.06
        # partitioning-independent
        again = sorted(
            (r.doc_id, r.epoch)
            for r in mixture_sample(
                df.repartition(13), "source",
                {"src0": 2.5, "src1": 1.0, "src2": 0.25, "src3": 0.0},
                key_col="doc_id",
            ).collect()
        )
        assert again == sorted((r.doc_id, r.epoch) for r in rows)

    def test_mixture_sample_default_weight_and_validation(self, spark):
        from cov_tiles_spark.operators.sampling import mixture_sample

        df = self._docs(spark, n=2000, groups=4)
        out = mixture_sample(
            df, "source", {"src0": 1.0}, key_col="doc_id", default_weight=1.5
        )
        per = {
            r.source: r.n
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert per["src0"] == 500
        for s in ("src1", "src2", "src3"):  # 1.5: 500 + ~250
            assert 600 < per[s] < 900, per
        import pytest as _pytest

        with _pytest.raises(ValueError):
            mixture_sample(df, "source", {"src0": -1.0}, key_col="doc_id")

    def test_plan_mixture_hand_math_and_composition(self, spark):
        """Weights equal budget * prop / tokens by hand; strata outside
        the recipe get weight 0; composing with mixture_sample emits
        ~budget * prop tokens per stratum (the planner's contract)."""
        from cov_tiles_spark.operators.sampling import (
            mixture_sample, plan_mixture,
        )

        df = self._docs(spark, n=4000, groups=4).withColumn(
            "n_tok", F.lit(50) + (F.col("doc_id") % 7)
        )
        budget = 500_000
        plan = {
            r.source: r
            for r in plan_mixture(
                df, "source", "n_tok", {"src0": 0.5, "src1": 0.5}, budget
            ).collect()
        }
        assert set(plan) == {"src0", "src1", "src2", "src3"}
        for s in ("src0", "src1"):
            tok = sum(
                50 + (i % 7) for i in range(4000) if i % 4 == int(s[-1])
            )
            assert plan[s].tokens == tok and plan[s].n_docs == 1000
            assert plan[s].weight == round(budget * 0.5 / tok, 6)
        assert plan["src2"].weight == 0.0 and plan["src3"].weight == 0.0
        weights = {s: r.weight for s, r in plan.items()}
        got_tok = {
            r.source: r.t
            for r in mixture_sample(df, "source", weights, key_col="doc_id")
            .groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
        }
        for s in ("src0", "src1"):  # expectation budget/2 per stratum
            assert abs(got_tok[s] / (budget / 2) - 1) < 0.02, got_tok
        assert set(got_tok) == {"src0", "src1"}
        import pytest as _pytest

        with _pytest.raises(ValueError):
            plan_mixture(df, "source", "n_tok", {"src0": 1.0}, 0)
        with _pytest.raises(ValueError):
            plan_mixture(df, "source", "n_tok", {"src0": -0.1}, 100)

    def test_shuffle_assign_permutation_and_balance(self, spark):
        """Every row lands in exactly one (shard, pos) slot, pos is dense
        0..k-1 per shard, shards are near-balanced, and the permutation is
        identical across partitionings (resumable export)."""
        from cov_tiles_spark.operators.sampling import shuffle_assign

        df = self._docs(spark, n=8000)
        out = shuffle_assign(df, "doc_id", n_shards=8).collect()
        assert len(out) == 8000
        per = {}
        for r in out:
            per.setdefault(r.shard, []).append((r.pos, r.doc_id))
        assert set(per) == set(range(8))
        for shard, slots in per.items():
            poss = sorted(p for p, _ in slots)
            assert poss == list(range(len(slots)))  # dense 0-based
            assert abs(len(slots) - 1000) < 150  # binomial balance
        # shard order is NOT key order (it's a shuffle)
        s0_ids = [d for _, d in sorted(per[0])]
        assert s0_ids != sorted(s0_ids)
        again = sorted(
            (r.doc_id, r.shard, r.pos)
            for r in shuffle_assign(
                df.repartition(17), "doc_id", n_shards=8
            ).collect()
        )
        assert again == sorted((r.doc_id, r.shard, r.pos) for r in out)


def test_repetition_stats_hand_fractions(spark):
    """Gopher/C4-style repetition fractions against hand-computed
    values, incl. the short-doc guards (n < k grams, empty text)."""
    from cov_tiles_spark.operators.text import repetition_stats

    rows = [
        (0, "a a b"),            # 3 words, 2 distinct; 2-grams {a a, a b}
        (1, "a a a a a a"),      # 6 words 1 distinct; 5 2-grams 1 distinct
        (2, "x"),                # single word: no 2-grams, no 5-grams
        (3, ""),                 # empty: everything 0
        (4, "p q r s t p q r s t"),  # 10 words, 5 distinct; 6 5-grams, 5 distinct
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[0].n_words == 3
    assert got[0].dup_word_frac == round(1 - 2 / 3, 6)
    assert got[0].dup_2gram_frac == 0.0
    assert got[0].dup_5gram_frac == 0.0
    assert got[1].dup_word_frac == round(1 - 1 / 6, 6)
    assert got[1].dup_2gram_frac == round(1 - 1 / 5, 6)
    assert got[1].dup_5gram_frac == 0.5  # 2 grams, 1 distinct
    assert got[2].n_words == 1 and got[2].dup_2gram_frac == 0.0
    assert got[3].n_words == 0 and got[3].dup_word_frac == 0.0
    assert got[4].n_words == 10
    assert got[4].dup_word_frac == 0.5
    assert got[4].dup_5gram_frac == round(1 - 5 / 6, 6)


def test_repetition_stats_plan_is_map_only(spark):
    """The operator's 100 TB contract: a pure scan — the physical plan
    must contain NO Exchange (no shuffle) and no Python evaluation."""
    from cov_tiles_spark.operators.text import repetition_stats

    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    plan = repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_hard_negatives_nan_and_null_label_semantics(spark):
    """Degenerate inputs match the JVM/SQL semantics the decision pass
    replaced: (a) a zero-norm corpus vector (NaN cosine) ranks FIRST
    under the desc window (Spark orders NaN above every double) and
    must not poison the finite k-th threshold for the rest of the
    batch; (b) a NULL label makes `label != query_label` NULL, so such
    pairs are EXCLUDED from hard negatives (not treated as
    'different')."""
    from cov_tiles_spark.operators.sampling import sample_hash, threshold
    from cov_tiles_spark.operators.similarity import hard_negatives

    rng = np.random.default_rng(23)
    rows = []
    for i in range(60):
        if i == 7:
            vec = [0.0] * 8            # zero norm -> NaN cosine vs all
            label = 99                  # different from every query label
        elif i % 11 == 3:
            vec = rng.normal(size=8).tolist()
            label = None                # NULL label -> never a negative
        else:
            vec = rng.normal(size=8).tolist()
            label = i % 3
        rows.append((i, label, vec))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = hard_negatives(
        df, "embedding", "vec_id", "label", k=4, query_rate=0.3, seed=5
    ).collect()

    # NULL-label rows never appear as negatives
    assert all(r.label is not None for r in out)
    # NULL-label queries get no rows at all
    null_ids = {i for i, lab, _ in rows if lab is None}
    assert all(r.query_id not in null_ids for r in out)

    qids = [
        r.vec_id
        for r in df.select("vec_id")
        .filter(sample_hash(F.col("vec_id"), 5) < F.lit(threshold(0.3)))
        .collect()
        if r.vec_id not in null_ids
    ]
    per = {}
    for r in out:
        per.setdefault(r.query_id, []).append(r)
    assert set(per) == set(qids)
    labels = {i: lab for i, lab, _ in rows}
    mat = np.stack([np.asarray(v, dtype=np.float64) for _, _, v in rows])
    norms = np.linalg.norm(mat, axis=1)
    for qid in qids:
        entries = sorted(per[qid], key=lambda r: r.neg_rank)
        assert [r.neg_rank for r in entries] == list(range(1, 5))
        # rank 1 is the NaN row (id 7): NaN sorts first under desc
        assert entries[0].id == 7 and np.isnan(entries[0].cosine)
        # ranks 2..4 equal the numpy twin over FINITE different-label rows
        with np.errstate(invalid="ignore"):  # row 7's 0/0 is the point
            cos = np.round(mat @ mat[qid] / (norms * norms[qid]), 6)
        cand = [
            (i, labels[i]) for i in range(60)
            if i != qid and i != 7 and labels[i] is not None
            and labels[i] != labels[qid]
        ]
        cand.sort(key=lambda t: (-cos[t[0]], t[0]))
        assert [(r.id, r.label) for r in entries[1:]] == cand[:3]


def test_superset_keep_caps_nan_rows_at_k_smallest_ids():
    """The decision pass keeps at most k NaN-cosine rows per (batch,
    query): the k smallest ids, since the final window breaks NaN ties
    on id. A zero-norm query (all-NaN column) must not ship the batch."""
    from cov_tiles_spark.operators.similarity import _superset_keep

    rng = np.random.default_rng(41)
    nb, nq, k = 50, 6, 4
    ids = rng.permutation(1000)[:nb].astype(np.int64)  # unsorted batch
    cos = rng.uniform(-1, 1, (nb, nq))
    cos[rng.random(nb) < 0.2, :] = np.nan  # zero-norm corpus rows
    cos[:, 0] = np.nan  # zero-norm query
    valid = rng.random((nb, nq)) < 0.9
    keep = _superset_keep(cos, valid, ids, k, 1.01e-6)
    for q in range(nq):
        nan_rows = np.flatnonzero(valid[:, q] & np.isnan(cos[:, q]))
        kept_nan = np.flatnonzero(keep[:, q] & np.isnan(cos[:, q]))
        assert len(kept_nan) <= k
        assert sorted(ids[kept_nan]) == sorted(ids[nan_rows])[:k]
        fin = valid[:, q] & ~np.isnan(cos[:, q])
        top = np.sort(cos[fin, q])[::-1][:k]
        kth = top[-1] if top.size else -np.inf
        want_fin = fin & (cos[:, q] >= kth - 1.01e-6)
        assert (keep[:, q] & ~np.isnan(cos[:, q]) == want_fin).all()
    assert not (keep & ~valid).any()


def test_self_retrieval_topk_zero_norm_matches_window_oracle(spark):
    """Zero-norm query and corpus vectors with k < |corpus|: the top-k
    equals a pandas twin of the JVM window (cosine desc with NaN first,
    then id), so capping the NaN rows loses nothing."""
    import pandas as pd

    from cov_tiles_spark.operators.similarity import _self_retrieval_topk

    rng = np.random.default_rng(29)
    zero = {5, 17, 26}
    rows = [
        (i, i % 3, [0.0] * 4 if i in zero else rng.normal(size=4).tolist())
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    k = 4
    got = (
        _self_retrieval_topk(
            df, "embedding", "vec_id", "label", k, query_rate=1.0, seed=5
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
    )

    mat = np.array([v for _, _, v in rows])
    acc = np.zeros((40, 40))
    for j in range(mat.shape[1]):  # the decision pass's left fold
        acc = acc + mat[:, j][:, None] * mat[:, j][None, :]
    norms = np.sqrt(np.diag(acc))
    with np.errstate(invalid="ignore"):
        cos = np.round(acc / (norms[:, None] * norms[None, :]), 6)
    pairs = pd.DataFrame(
        [(q, i, cos[i, q]) for q in range(40) for i in range(40) if i != q],
        columns=["query_id", "id", "cosine"],
    )
    pairs["is_nan"] = pairs["cosine"].isna()
    want = (
        pairs.sort_values(
            ["query_id", "is_nan", "cosine", "id"],
            ascending=[True, False, False, True],
        )
        .groupby("query_id")
        .head(k)
    )
    want["rank"] = want.groupby("query_id").cumcount() + 1
    assert got[["query_id", "rank", "id"]].values.tolist() == (
        want[["query_id", "rank", "id"]].values.tolist()
    )
    np.testing.assert_array_equal(
        got["cosine"].to_numpy(), want["cosine"].to_numpy()
    )
    # a zero-norm query's neighbours are all NaN: its k smallest other ids
    assert got[got.query_id == 5]["id"].tolist() == [0, 1, 2, 3]
