"""Product quantization: codeword exactness, numpy-oracle score parity,
clustered recall, compression shape."""

from __future__ import annotations

import numpy as np
import pytest

from cov_tiles_spark.operators.pq import pq_encode, pq_topk, pq_train

DIM, M, NBITS = 32, 8, 4
SUB = DIM // M


def _clustered(n_clusters=12, per=40, noise=0.02, seed=5):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1, (n_clusters, DIM))
    rows = []
    for ci in range(n_clusters):
        pts = centers[ci] + rng.normal(0, noise, (per, DIM))
        rows.extend(pts)
    return np.asarray(rows)


@pytest.fixture(scope="module")
def corpus(spark):
    x = _clustered()
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<double>",
    ).persist()
    cb = pq_train(df, "embedding", "vec_id", DIM, m=M, nbits=NBITS)
    return x, df, cb


def test_pq_train_rejects_dim_not_divisible_by_m(corpus):
    """Raised, not asserted: ``python -O`` strips asserts."""
    _, df, _ = corpus
    with pytest.raises(ValueError, match="divide evenly"):
        pq_train(df, "embedding", "vec_id", DIM, m=5, nbits=NBITS)


def test_codebook_shape_and_code_width(corpus):
    x, df, cb = corpus
    assert cb.shape == (M, 1 << NBITS, SUB)
    row = pq_encode(df, "embedding", cb).select("pq_code").first()
    assert len(row.pq_code) == M  # 8 code ids vs 32 floats stored


def test_codes_and_scores_match_numpy_oracle(corpus):
    x, df, cb = corpus
    # encode via operator, score via operator's ADC on a fixed query
    q = [float(v) for v in x[7]]
    enc = pq_encode(df, "embedding", cb)
    scored = pq_topk(enc, "vec_id", q, k=len(x), codebooks=cb)
    got = {r.id: (r.adc_score) for r in scored.collect()}
    # independent per-row numpy oracle (same definition)
    qv = np.asarray(q)
    lut = np.stack([cb[j] @ qv[j * SUB:(j + 1) * SUB] for j in range(M)])
    for i in range(len(x)):
        codes = []
        for j in range(M):
            xs = x[i, j * SUB:(j + 1) * SUB]
            d = ((cb[j] - xs) ** 2).sum(axis=1)
            codes.append(int(np.argmin(d)))
        want = float(sum(lut[j][codes[j]] for j in range(M)))
        assert got[i] == pytest.approx(want, abs=1e-9)


def test_candidate_recall_and_rerank(corpus):
    """PQ's contract is candidate generation: quantization error (~the
    codebook resolution) swamps the 0.02 within-cluster noise, so exact
    order among near-identical vectors is not recoverable — but the
    query's cluster must dominate the ADC ranking, and an exact re-rank
    of the ADC top-50 must recover the true top-10 (the IVF-PQ shape)."""
    x, df, cb = corpus
    q = x[100]
    cluster = set(range(80, 120))  # vec 100 lives in cluster 2 (40/cluster)
    enc = pq_encode(df, "embedding", cb).persist()
    cand = [
        r.id for r in pq_topk(enc, "vec_id", [float(v) for v in q], 50, cb).collect()
    ]
    assert len(set(cand) & cluster) >= 36  # >= 90% of the cluster surfaces
    exact10 = set(np.argsort(-(x @ q))[:10].tolist())
    rerank = sorted(cand, key=lambda i: -float(x[i] @ q))[:10]
    assert set(rerank) == exact10  # exact re-rank over candidates recovers truth


def test_codeword_vectors_score_exactly(spark):
    # vectors that ARE codewords: ADC == true dot product exactly
    rng = np.random.default_rng(11)
    cb = rng.normal(0, 1, (M, 1 << NBITS, SUB))
    codes = rng.integers(0, 1 << NBITS, (20, M))
    vecs = np.concatenate(
        [cb[j][codes[:, j]] for j in range(M)], axis=1
    )  # (20, DIM)
    df = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    q = [float(v) for v in rng.normal(0, 1, DIM)]
    enc = pq_encode(df, "embedding", cb)
    got = {r.id: r.adc_score for r in pq_topk(enc, "vec_id", q, 20, cb).collect()}
    for i in range(20):
        assert got[i] == pytest.approx(float(vecs[i] @ np.asarray(q)), rel=1e-12)


def test_ivf_pq_composition(corpus, spark):
    """The IVF-PQ shape: coarse quantizer prunes WHICH rows are scored,
    PQ codes are WHAT is scored — pq_topk over the probed lists only."""
    import numpy as np

    from pyspark.sql import functions as F

    from cov_tiles_spark.operators.similarity import (
        ivf_assign, ivf_train_centroids,
    )

    x, df, cb = corpus
    q = x[100]
    cents = ivf_train_centroids(df, "embedding", "vec_id", n_centroids=12)
    qn = q / np.linalg.norm(q)
    probe = np.argsort(-(cents @ qn))[:3].astype(int).tolist()
    pruned = ivf_assign(df, "embedding", cents).filter(
        F.col("list_id").isin(probe)
    )
    n_scored = pruned.count()
    assert n_scored < len(x)  # the probe really pruned the scan
    enc = pq_encode(pruned, "embedding", cb)
    cand = [
        r.id for r in pq_topk(enc, "vec_id", [float(v) for v in q], 50, cb).collect()
    ]
    # the query's own cluster survives both the IVF probe and PQ ranking
    assert len(set(cand) & set(range(80, 120))) >= 36


def test_ann_recall_monotone_in_nprobe_and_shortlist(spark):
    """The operating-point curves (scripts/ann_recall.py) rest on two
    monotonicity guarantees; pin both on the sf0.001 embeddings:
    - IVF with exact in-list re-rank: recall@10 is non-decreasing in
      nprobe (an exact-top-10 member inside the probed set always
      survives the re-rank) and exactly 1.0 at nprobe = n_lists.
    - PQ ADC shortlist + exact re-rank: for fixed codes the ADC order
      is fixed (deterministic id tie-break), so a larger shortlist is a
      superset and re-rank recall is non-decreasing."""
    import numpy as np

    from pyspark.sql import functions as F

    from cov_tiles_spark.operators.similarity import (
        cosine_topk, ivf_topk, ivf_train_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    queries = [
        list(r.embedding) for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    nlist, k = 8, 10
    exact = [
        {r.id for r in cosine_topk(emb, "embedding", "vec_id", q, k).collect()}
        for q in queries
    ]
    cents = ivf_train_centroids(emb, "embedding", "vec_id", nlist)
    prev = -1.0
    for nprobe in (1, 2, 4, nlist):
        rec = 0.0
        for qi, q in enumerate(queries):
            got = {
                r.id
                for r in ivf_topk(
                    emb, "embedding", "vec_id", q, k, cents, nprobe=nprobe
                ).collect()
            }
            rec += len(got & exact[qi])
        rec /= k * len(queries)
        assert rec >= prev - 1e-12, (nprobe, rec, prev)
        prev = rec
    assert prev == 1.0  # all lists probed == exact

    cb = pq_train(emb, "embedding", "vec_id", DIM, m=8, nbits=4)
    enc = pq_encode(emb, "embedding", cb).cache()
    q = queries[0]
    prev = -1.0
    for shortlist in (20, 60, 200):
        adc = pq_topk(enc, "vec_id", q, shortlist, cb).collect()
        cand = [r.id for r in adc]
        rr = {
            r.id
            for r in cosine_topk(
                emb.filter(F.col("vec_id").isin(cand)),
                "embedding", "vec_id", q, k,
            ).collect()
        }
        rec = len(rr & exact[0]) / k
        assert rec >= prev - 1e-12, (shortlist, rec, prev)
        prev = rec


def test_candidate_ids_match_topk_membership(spark):
    """pq_candidate_ids admits exactly pq_topk's ids, on a corpus with
    exact score ties and k < |corpus|, so the id tiebreak decides the
    cut.

    Scores are 0.04 * code for code 0..15 (one live subspace), and id i
    has code i % 16, so every score is held by three ids."""
    from cov_tiles_spark.operators.pq import pq_candidate_ids

    cb = np.zeros((M, 1 << NBITS, SUB))
    cb[0, :, 0] = 0.04 * np.arange(1 << NBITS)
    q = [1.0] * DIM
    enc = spark.createDataFrame(
        [(i, [i % 16] + [0] * (M - 1)) for i in range(48)],
        "vec_id long, pq_code array<int>",
    )
    k = 10
    topk = {x.id for x in pq_topk(enc, "vec_id", q, k, cb).collect()}
    cand = [x.id for x in pq_candidate_ids(enc, "vec_id", q, k, cb).collect()]
    assert len(cand) == k and set(cand) == topk
    # the three ids each of codes 15, 14 and 13, then the lowest id of
    # code 12: the tie at the cut goes to the smaller id
    assert topk == {15, 31, 47, 14, 30, 46, 13, 29, 45, 12}
