"""BM25 sparse retrieval (operators/bm25.py) and gap sessionization
(operators/sessions.py): hand-computed semantics, edge cases, and the
plan shapes their 100 TB claims rest on."""

from __future__ import annotations

import datetime
import math

from cov_tiles_spark.operators.bm25 import bm25_index, bm25_topk
from cov_tiles_spark.operators.sessions import session_stats, sessionize

K1, B = 1.2, 0.75


def _bm25_ref(tf, dl, df, n, avgdl):
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    return idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))


def test_bm25_hand_example(spark):
    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry cherry durian"),
            (3, ""),  # zero-token doc: no postings, but counts in N/avgdl
        ],
        "doc_id long, text string",
    )
    postings, df, doclen = bm25_index(docs)
    assert {tuple(r) for r in doclen.collect()} == {
        (0, 3), (1, 2), (2, 4), (3, 0)
    }
    assert {tuple(r) for r in postings.collect()} == {
        ("apple", 0, 2, 3), ("banana", 0, 1, 3),
        ("banana", 1, 1, 2), ("cherry", 1, 1, 2),
        ("cherry", 2, 3, 4), ("durian", 2, 1, 4),
    }
    assert dict(df.collect()) == {"apple": 1, "banana": 2, "cherry": 2,
                                  "durian": 1}

    n, avgdl = 4, (3 + 2 + 4 + 0) / 4
    queries = spark.createDataFrame(
        [(100, "banana"), (100, "cherry"), (200, "zebra")],
        "query_id long, term string",
    )
    out = bm25_topk(postings, df, queries, n, avgdl, k=10).collect()
    got = {(r.query_id, r.doc_id): (r.rank, r.score) for r in out}
    # query 200's term is absent from the corpus -> no rows at all
    assert all(q == 100 for q, _ in got)
    exp = {
        0: _bm25_ref(1, 3, 2, n, avgdl),                       # banana
        1: _bm25_ref(1, 2, 2, n, avgdl) + _bm25_ref(1, 2, 2, n, avgdl),
        2: _bm25_ref(3, 4, 2, n, avgdl),                       # cherry x3
    }
    for doc, s in exp.items():
        assert abs(got[(100, doc)][1] - s) < 1e-9, (doc, got)
    # doc 1 matches both terms -> highest score; ranks follow scores
    order = sorted(exp, key=lambda d: (-round(exp[d], 6), d))
    assert [d for d, _ in sorted(
        ((r.doc_id, r.rank) for r in out), key=lambda t: t[1]
    )] == order


def test_bm25_k_truncates_and_tiebreak(spark):
    # two structurally identical docs tie exactly -> doc_id breaks it
    docs = spark.createDataFrame(
        [(7, "same text here"), (3, "same text here"), (9, "other words")],
        "doc_id long, text string",
    )
    postings, df, doclen = bm25_index(docs)
    queries = spark.createDataFrame(
        [(1, "same")], "query_id long, term string"
    )
    out = bm25_topk(postings, df, queries, 3, 8 / 3, k=1).collect()
    assert [(r.rank, r.doc_id) for r in out] == [(1, 3)]


def _ts(minute):
    return datetime.datetime(2024, 1, 1, 0, 0) + datetime.timedelta(
        minutes=minute
    )


def test_sessionize_gap_rule(spark):
    ev = spark.createDataFrame(
        [
            # user 1: events at t=0,10,20 then a 61-min gap -> new session
            (0, _ts(0), 1, 1.0),
            (1, _ts(10), 1, 2.0),
            (2, _ts(20), 1, 4.0),
            (3, _ts(81), 1, 8.0),
            # user 2: single event
            (4, _ts(5), 2, 1.5),
            # user 1: exactly-at-gap boundary is SAME session (> not >=)
            (5, _ts(141), 1, 16.0),
        ],
        "event_id long, ts timestamp, user_id long, value double",
    )
    sess = sessionize(ev, gap_sec=3600)
    got = {r.event_id: r.session_id for r in sess.collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 2, 4: 1, 5: 2}

    stats = session_stats(sess).orderBy("user_id", "session_id").collect()
    assert [(r.user_id, r.session_id, r.n_events, r.duration_us,
             r.sum_value) for r in stats] == [
        (1, 1, 3, 20 * 60 * 1_000_000, 7.0),
        (1, 2, 2, 60 * 60 * 1_000_000, 24.0),
        (2, 1, 1, 0, 1.5),
    ]
    assert stats[0].session_start == _ts(0)
    assert stats[0].session_end == _ts(20)


def test_sessionize_timestamp_tie_uses_tiebreak(spark):
    ev = spark.createDataFrame(
        [(10, _ts(0), 1, 1.0), (2, _ts(0), 1, 1.0)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    rows = sessionize(ev, gap_sec=60).orderBy("event_id").collect()
    assert {r.session_id for r in rows} == {1}


def test_session_plan_single_user_exchange(spark):
    """The window and the stats aggregate share ONE user_id exchange."""
    ev = spark.createDataFrame(
        [(0, _ts(0), 1, 1.0)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    plan = (
        session_stats(sessionize(ev, gap_sec=60))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bm25_scoring_plan_broadcasts_queries(spark):
    """Postings never reshuffle at scoring: query terms ride broadcasts
    and no SortMergeJoin appears anywhere in the plan."""
    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{i % 3} filler") for i in range(50)],
        "doc_id long, text string",
    )
    postings, df, doclen = bm25_index(docs)
    queries = spark.createDataFrame(
        [(1, "tok0"), (1, "tok1")], "query_id long, term string"
    )
    plan = (
        bm25_topk(postings, df, queries, 50, 3.0, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    # top-k per query runs as rank-limit pushdown, not a full sort
    assert "WindowGroupLimit" in plan, plan
