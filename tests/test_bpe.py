"""Distributed BPE training vs hand-computed merges and a pure-python
twin (the same algorithm the committed oracle uses)."""

from __future__ import annotations

from collections import Counter

from cov_tiles_spark.operators.bpe import bpe_train, word_counts


def _python_bpe(texts, n_merges, min_freq=2):
    wc: Counter = Counter()
    for t in texts:
        for w in t.lower().split():
            wc[w] += 1
    words = {w: (list(w), n) for w, n in wc.items()}
    out = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, n in words.values():
            for a, b in zip(syms[:-1], syms[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        (left, right), freq = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if freq < min_freq:
            break
        out.append((left, right, freq))
        merged = left + right
        for w, (syms, n) in words.items():
            res, i, m = [], 0, len(syms)
            while i < m:
                if i + 1 < m and syms[i] == left and syms[i + 1] == right:
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            words[w] = (res, n)
    return out


def test_bpe_hand_case(spark):
    # "aaab" x3 + "ab": pairs aa=6, ab=4 -> merge (a,a); then (aa,a)=3;
    # then (aaa,b)=3 ... deterministic
    docs = spark.createDataFrame(
        [("aaab",)] * 3 + [("ab",)], "text string"
    )
    merges = bpe_train(docs, "text", n_merges=3)
    assert merges[0] == ("a", "a", 6)
    assert merges == _python_bpe(["aaab"] * 3 + ["ab"], 3)


def test_bpe_matches_python_twin(spark):
    texts = [
        "the cat sat on the mat",
        "the dog sat on the log",
        "a cat and a dog met on a mat",
        "x y z q",  # single-char words: no pairs, must not break ANSI
    ] * 5
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    got = bpe_train(docs, "text", n_merges=20)
    want = _python_bpe(texts, 20)
    assert got == want
    assert len(got) > 10  # real merges happened


def test_bpe_min_freq_early_stop(spark):
    """No pair occurs twice, so training stops before its first merge."""
    docs = spark.createDataFrame([("ab cd",)], "text string")
    assert bpe_train(docs, "text", n_merges=5) == []


def _replay(word, merges):
    """Sequential replay (Sennrich-original apply; the oracle twin's
    semantics): each merge scans the word left-to-right in table order."""
    syms = list(word)
    for left, right in merges:
        if left not in syms:
            continue
        res, i, m = [], 0, len(syms)
        while i < m:
            if i + 1 < m and syms[i] == left and syms[i + 1] == right:
                res.append(left + right)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        syms = res
    return syms


def test_greedy_apply_equals_replay_hand_cases():
    from cov_tiles_spark.operators.bpe import _bpe_word_greedy

    # merge ranks deliberately interleave: (a,b) then (ab,c) then (b,c)
    merges = [("a", "b"), ("ab", "c"), ("b", "c")]
    ranks = {m: i for i, m in enumerate(merges)}
    for w in ["abc", "babc", "bcabc", "aabbcc", "abcbc", "cab"]:
        assert _bpe_word_greedy(w, ranks) == _replay(w, merges), w
    # overlapping self-pair: leftmost-nonoverlapping in both
    m2 = [("a", "a"), ("aa", "a")]
    r2 = {m: i for i, m in enumerate(m2)}
    for w in ["aaa", "aaaa", "aaaaa", "baaab"]:
        assert _bpe_word_greedy(w, r2) == _replay(w, m2), w


def test_greedy_apply_equals_replay_on_trained_tables():
    """Property pinning the q_bpe_encode oracle contract: for a merge
    table produced by BPE TRAINING (each merge's parts exist before its
    output symbol), greedy lowest-rank apply == sequential replay on
    every corpus word. Randomized corpora, fixed seed."""
    import random

    from cov_tiles_spark.operators.bpe import _bpe_word_greedy

    rng = random.Random(42)
    for trial in range(30):
        alphabet = "abcd"
        texts = [
            " ".join(
                "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8)))
                for _ in range(rng.randint(1, 12))
            )
            for _ in range(rng.randint(3, 15))
        ]
        merges3 = _python_bpe(texts, n_merges=15, min_freq=1)
        merges = [(l, r) for l, r, _ in merges3]
        ranks = {m: i for i, m in enumerate(merges)}
        for t in texts:
            for w in t.split():
                assert _bpe_word_greedy(w, ranks) == _replay(w, merges), (
                    trial, w, merges)


def test_bpe_encode_matches_replay_counts(spark):
    from cov_tiles_spark.operators.bpe import bpe_encode, bpe_train

    texts = [
        "the cat sat on the mat",
        "the dog sat on the log",
        "a cat and a dog met on a mat",
        "",  # empty doc must survive with zero counts
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = [(l, r) for l, r, _ in bpe_train(docs, "text", n_merges=12)]
    got = {
        r.doc_id: (r.n_tokens, r.n_distinct_tokens)
        for r in bpe_encode(docs, merges).collect()
    }
    for i, t in enumerate(texts):
        toks = [tok for w in t.lower().split() for tok in _replay(w, merges)]
        assert got[i] == (len(toks), len(set(toks))), (i, toks)


def test_word_counts(spark):
    docs = spark.createDataFrame([("A a  b",), ("b",)], "text string")
    got = {r.word: r.n for r in word_counts(docs).collect()}
    assert got == {"a": 2, "b": 2}
