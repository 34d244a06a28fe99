"""Bigram stupid-backoff LM (operators/ngram_lm.py) vs a pure-python
twin, plus hand-checked probabilities and plan shape."""

from __future__ import annotations

import math

import pytest

from cov_tiles_spark.operators.ngram_lm import (
    ALPHA,
    EPS,
    importance_weights,
    lm_score,
    ngram_lm_counts,
)


def _twin(train_rows, score_rows):
    big, uni, total = {}, {}, 0
    for _, text in train_rows:
        toks = text.split(" ")
        for t in toks:
            uni[t] = uni.get(t, 0) + 1
            total += 1
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    out = {}
    for did, text in score_rows:
        toks = text.split(" ")
        lp, oov, n = 0.0, 0, 0
        for a, b in zip(toks, toks[1:]):
            n += 1
            if (a, b) in big:
                lp += math.log10(big[(a, b)] / uni[a])
            elif b in uni:
                lp += math.log10((ALPHA * uni[b]) / total)
            else:
                lp += math.log10(ALPHA * EPS)
            if b not in uni:
                oov += 1
        ppl = 10.0 ** (-lp / n) if n else 1.0
        out[did] = (n, oov, lp, ppl)
    return out


TRAIN = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the rug"),
    (3, "a cat and a dog"),
]
SCORE = TRAIN + [
    (4, "the cat sat on the rug"),   # all bigrams seen
    (5, "the zebra sat quietly"),     # OOV token + backoff
    (6, "mat"),                       # single token: no pairs
]


@pytest.mark.usefixtures("spark")
class TestLmScore:
    def _run(self, spark):
        train = spark.createDataFrame(TRAIN, "doc_id long, text string")
        score = spark.createDataFrame(SCORE, "doc_id long, text string")
        big, uni, total = ngram_lm_counts(train, "text", "doc_id")
        assert total == sum(len(t.split()) for _, t in TRAIN)
        return lm_score(score, big, uni, total, "text", "doc_id")

    def test_matches_python_twin(self, spark):
        got = {
            r["doc_id"]: (r["n_scored"], r["n_oov"], r["logprob"], r["ppl"])
            for r in self._run(spark).collect()
        }
        want = _twin(TRAIN, SCORE)
        assert set(got) == set(want)
        for did in want:
            assert got[did][0] == want[did][0], did
            assert got[did][1] == want[did][1], did
            assert got[did][2] == pytest.approx(want[did][2], rel=1e-12), did
            assert got[did][3] == pytest.approx(want[did][3], rel=1e-12), did

    def test_hand_probability(self, spark):
        # doc 6: single token -> no pairs, ppl 1
        got = {r["doc_id"]: r for r in self._run(spark).collect()}
        assert got[6]["n_scored"] == 0 and got[6]["ppl"] == 1.0
        # doc 5 has exactly one OOV target token ("zebra")... and
        # "quietly" is also unseen -> 2 OOV pairs
        assert got[5]["n_oov"] == 2
        # train docs score strictly better (lower ppl) than the OOV doc
        assert got[1]["ppl"] < got[5]["ppl"]

    def test_dsir_separates_planted_domains(self, spark):
        # two disjoint-vocab domains; target model trained on domain A
        dom_a = [(i, "alpha beta gamma delta alpha beta") for i in range(5)]
        dom_b = [(100 + i, "uno dos tres cuatro uno dos") for i in range(5)]
        corpus = spark.createDataFrame(dom_a + dom_b, "doc_id long, text string")
        target = spark.createDataFrame(dom_a, "doc_id long, text string")
        tm = ngram_lm_counts(target, "text", "doc_id")
        rm = ngram_lm_counts(corpus, "text", "doc_id")
        got = {
            r["doc_id"]: r["log_w_norm"]
            for r in importance_weights(
                corpus, tm, rm, "text", "doc_id"
            ).collect()
        }
        # in-domain docs score no worse under the target than the mixed
        # raw model (exactly 0 here: bigram conditionals are
        # count-scale-invariant, so disjoint extra docs don't move
        # them); out-of-domain docs (all tokens OOV for the target)
        # score drastically lower
        for i in range(5):
            assert got[i] >= 0.0
            assert got[100 + i] < -3.0
            assert got[i] > got[100 + i] + 3.0

    def test_dsir_twin_identity(self, spark):
        # log_w must equal lm_score(target) - lm_score(raw) exactly
        train = spark.createDataFrame(TRAIN, "doc_id long, text string")
        score = spark.createDataFrame(SCORE, "doc_id long, text string")
        tm = ngram_lm_counts(train.filter("doc_id < 3"), "text", "doc_id")
        rm = ngram_lm_counts(train, "text", "doc_id")
        w = {
            r["doc_id"]: r["log_w"]
            for r in importance_weights(score, tm, rm, "text", "doc_id").collect()
        }
        lt = {r["doc_id"]: r["logprob"]
              for r in lm_score(score, *tm, "text", "doc_id").collect()}
        lr = {r["doc_id"]: r["logprob"]
              for r in lm_score(score, *rm, "text", "doc_id").collect()}
        for did in w:
            assert w[did] == pytest.approx(lt[did] - lr[did], abs=1e-12)
