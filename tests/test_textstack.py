"""End-to-end text-preparation recipe (pipeline/textstack.py): every
stage's planted case must be handled in one composed run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cov_tiles_spark.pipeline.textstack import prepare_text_corpus

BOILER = "click accept to agree to our cookie policy terms now please"


def _corpus(spark):
    # disjoint vocabularies per planted case so each stage's effect is
    # isolated (shared tokens would trigger unintended span cuts)
    rows = [
        # 1: clean keeper; its 3-word second line fails min_words=4
        (1, "red orange yellow green blue indigo violet cyan magenta "
            "teal maroon navy\nshort line drops"),
        # 2/3: exact duplicates -> global line dedup keeps doc 2's copy
        (2, "stone iron copper silver golden bronze nickel cobalt zinc "
            "lead brass pewter"),
        (3, "stone iron copper silver golden bronze nickel cobalt zinc "
            "lead brass pewter"),
        # 4/5: share the boilerplate passage -> span dedup cuts doc 5's
        (4, f"unique four words lead {BOILER}"),
        (5, f"other five words start {BOILER} plus a tail that keeps "
            "this document well above the floor"),
        # 7: too short -> dropped entirely at cleaning
        (7, "tiny doc here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.usefixtures("spark")
class TestPrepareTextCorpus:
    def test_composed_stack(self, spark):
        docs = _corpus(spark)
        out = prepare_text_corpus(
            docs, "text", "doc_id",
            min_words_per_line=4,
            span_k=6,
            min_tokens_after_dedup=8,
            minhash_threshold=0.9,
        )
        rows = {r["doc_id"]: r for r in out.collect()}
        # doc 7 dropped (too short), exactly one of 2/3 survives
        # (canonical = min id)
        assert 7 not in rows
        assert 2 in rows and 3 not in rows
        # doc 4 keeps the boilerplate (min-(doc,pos) keeper), doc 5 lost
        # it but survives on its tail
        assert BOILER in rows[4]["text"]
        assert 5 in rows and BOILER not in rows[5]["text"]
        # the dropped 3-word line is gone from doc 1
        assert "short" not in rows[1]["text"]
        assert rows[1]["text"].startswith("red orange")
        # decision columns present
        assert set(out.columns) == {
            "doc_id", "text", "n_tokens", "cluster", "quality"
        }
        assert (docs.count(), out.count()) == (6, 4)

    def test_runs_on_testdata_slice(self, spark):
        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text")
        )
        out = prepare_text_corpus(
            docs, "text", "doc_id",
            min_words_per_line=3, span_k=8,
            min_tokens_after_dedup=5, minhash_threshold=0.9,
        )
        n_in = docs.count()
        n_out = out.count()
        assert 0 < n_out <= n_in
        # survivors' ids are a subset of the input and text is non-empty
        assert out.filter(F.length("text") == 0).count() == 0
