"""Span dedup (operators/spandedup.py) + C4 line cleaning
(operators/cleaning.py) against hand cases and pure-python twins."""

from __future__ import annotations

import pytest

from cov_tiles_spark.operators.cleaning import c4_clean
from cov_tiles_spark.operators.spandedup import (
    _merge_cut,
    _window_hashes,
    exact_span_dedup,
)


def _span_twin(rows: list[tuple[int, str]], k: int) -> dict[int, tuple[str, int, int]]:
    """Independent keeper-rule replay using the same hash definition."""
    sites: dict[tuple[int, int], list[tuple[int, int]]] = {}
    toks = {}
    for did, text in rows:
        toks[did] = text.split()
        for pos, h in enumerate(_window_hashes(toks[did], k)):
            sites.setdefault(h, []).append((did, pos))
    rm: dict[int, list[int]] = {}
    for occ in sites.values():
        if len(occ) >= 2:
            keeper = min(occ)
            for site in occ:
                if site != keeper:
                    rm.setdefault(site[0], []).append(site[1])
    out = {}
    for did, text in rows:
        clean, n_rm = _merge_cut(toks[did], rm.get(did, []), k)
        out[did] = (clean, len(toks[did]), n_rm)
    return out


class TestMergeCut:
    def test_non_overlapping(self):
        toks = list("abcdefghij")
        clean, n = _merge_cut(toks, [0, 6], 2)
        assert clean == "c d e f i j" and n == 4

    def test_overlapping_windows_merge(self):
        toks = list("abcdefghij")
        clean, n = _merge_cut(toks, [2, 3, 4], 3)
        assert clean == "a b h i j" and n == 5

    def test_adjacent_intervals(self):
        toks = list("abcdef")
        clean, n = _merge_cut(toks, [0, 2], 2)
        assert clean == "e f" and n == 4

    def test_interval_past_end(self):
        clean, n = _merge_cut(["a", "b"], [1], 5)
        assert clean == "a" and n == 1


class TestWindowHashes:
    def test_rolling_equals_direct(self):
        toks = "the cat sat on the mat the cat sat".split()
        k = 3
        rolled = _window_hashes(toks, k)
        direct = [_window_hashes(toks[i : i + k], k)[0] for i in range(len(toks) - k + 1)]
        assert rolled == direct

    def test_repeat_detected(self):
        h = _window_hashes("a b c x a b c".split(), 3)
        assert h[0] == h[4]
        assert len(set(h)) == len(h) - 1

    def test_short_doc(self):
        assert _window_hashes(["one", "two"], 3) == []


@pytest.mark.usefixtures("spark")
class TestExactSpanDedup:
    def _run(self, spark, rows, k):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
            for r in exact_span_dedup(df, "text", "doc_id", k=k).collect()
        }
        assert got == _span_twin(rows, k)
        return got

    def test_cross_doc_boilerplate_removed_from_later_doc(self, spark):
        boiler = "click here to accept all cookies on this site"
        rows = [
            (1, f"unique alpha text {boiler}"),
            (2, f"other beta words {boiler} trailing bits"),
        ]
        got = self._run(spark, rows, k=4)
        assert got[1][0] == f"unique alpha text {boiler}"  # keeper intact
        assert boiler not in got[2][0]
        assert got[2][0].startswith("other beta words")
        assert got[2][0].endswith("trailing bits")

    def test_intra_doc_repeat_keeps_first(self, spark):
        rows = [(7, "p q r s middle p q r s")]
        got = self._run(spark, rows, k=4)
        assert got[7] == ("p q r s middle", 9, 4)

    def test_doc_shorter_than_k_untouched(self, spark):
        rows = [(1, "tiny doc"), (2, "tiny doc")]
        got = self._run(spark, rows, k=5)
        assert got[1] == ("tiny doc", 2, 0) and got[2] == ("tiny doc", 2, 0)

    def test_partitioning_independent(self, spark):
        boiler = " ".join(f"b{i}" for i in range(10))
        rows = [(i, f"doc {i} body text {boiler}") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(exact_span_dedup(df, "text", "doc_id", k=6).collect())
        b = sorted(
            exact_span_dedup(df.repartition(7), "text", "doc_id", k=6).collect()
        )
        assert a == b
        kept = [r for r in a if r["n_removed"] == 0]
        assert [r["doc_id"] for r in kept] == [0]  # min-id keeper


@pytest.mark.usefixtures("spark")
class TestC4Clean:
    def test_filters_and_global_dedup(self, spark):
        rows = [
            (1, "good line with words\nno\nrepeated boiler line here"),
            (2, "repeated boiler line here\nanother good line present"),
            (3, "repeated boiler line here"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_kept"])
            for r in c4_clean(df, "text", "doc_id", min_words_per_line=3).collect()
        }
        # "no" fails min-words; the boiler line survives only in doc 1
        assert got[1] == (
            "good line with words\nrepeated boiler line here", 3, 2)
        assert got[2] == ("another good line present", 2, 1)
        assert got[3] == ("", 1, 0)

    def test_badwords_drop_lines(self, spark):
        rows = [(1, "this line is clean.\nthis line is spammy junk.\nno punct line here")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = c4_clean(
            df, "text", "doc_id", min_words_per_line=2, badwords=["spammy"],
        ).collect()[0]
        assert out["clean_text"] == "this line is clean.\nno punct line here"
        assert out["n_lines"] == 3 and out["n_kept"] == 2

    def test_dedup_keeper_is_min_doc_then_line(self, spark):
        rows = [
            (5, "z z z z\nshared boiler line"),
            (2, "shared boiler line\nshared boiler line"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["clean_text"] for r in
               c4_clean(df, "text", "doc_id", min_words_per_line=2).collect()}
        # keeper = (doc 2, line 0); doc 2's second copy and doc 5's copy drop
        assert got[2] == "shared boiler line"
        assert got[5] == "z z z z"
