"""Recall/size operating-point curves for the approximate ANN tier.

The driver gates pin the provably-exact settings (nprobe = all lists,
all-candidate ADC); this script maps the approximate regime a user
actually deploys: IVF recall@10 vs nprobe, and PQ recall@10 vs
(m subspaces x nbits) — ADC-only and ADC-shortlist + exact re-rank.
Everything is deterministic (hash-ordered training samples,
farthest-point init, fixed query ids), so the table is reproducible.

Recall@10 here is membership recall vs the exact cosine top-10:
|approx_top10 ∩ exact_top10| / 10, averaged over 10 corpus queries
(vec_id 0..9). For IVF with exact in-list re-rank this is monotone in
nprobe by construction (an exact-top-10 member inside the probed set
always survives the re-rank) — pinned by tests/test_pq.py.

Usage: python scripts/ann_recall.py [sf_dir]   (default sf0.1)
Appends a section to BENCH/BASELINE.md.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
K = 10
NLIST = 16
QUERIES = list(range(10))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from cov_tiles_spark.operators.pq import pq_encode, pq_topk, pq_train
    from cov_tiles_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        ivf_train_centroids,
    )
    from cov_tiles_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    n = emb.count()
    qrows = {
        r.vec_id: list(r.embedding)
        for r in emb.filter(emb.vec_id.isin(QUERIES)).collect()
    }
    queries = [qrows[q] for q in QUERIES]

    exact = {}
    for qi, q in enumerate(queries):
        exact[qi] = {
            r.id for r in cosine_topk(emb, "embedding", "vec_id", q, K).collect()
        }

    def recall(tops: dict[int, set]) -> float:
        return sum(len(tops[qi] & exact[qi]) for qi in range(len(queries))) / (
            K * len(queries)
        )

    # ---- IVF sweep -----------------------------------------------------
    cents = ivf_train_centroids(emb, "embedding", "vec_id", NLIST)
    ivf_rows = []
    for nprobe in (1, 2, 4, 8, NLIST):
        tops = {}
        for qi, q in enumerate(queries):
            tops[qi] = {
                r.id
                for r in ivf_topk(
                    emb, "embedding", "vec_id", q, K, cents, nprobe=nprobe
                ).collect()
            }
        frac = nprobe / NLIST
        ivf_rows.append((nprobe, recall(tops), frac))
        print(f"ivf nprobe={nprobe}: recall@10={ivf_rows[-1][1]:.3f}")

    # ---- PQ sweep ------------------------------------------------------
    pq_rows = []
    for m, nbits in ((4, 4), (8, 4), (16, 4), (8, 8), (16, 8)):
        cb = pq_train(emb, "embedding", "vec_id", DIM, m=m, nbits=nbits)
        enc = pq_encode(emb, "embedding", cb).cache()
        enc.count()
        adc_tops, rr_tops = {}, {}
        shortlist = max(100, n // 20)
        for qi, q in enumerate(queries):
            adc = pq_topk(enc, "vec_id", q, shortlist, cb).collect()
            adc_tops[qi] = {r.id for r in adc[:K]}
            cand = [r.id for r in adc]
            rr = cosine_topk(
                emb.filter(emb.vec_id.isin(cand)), "embedding", "vec_id", q, K
            ).collect()
            rr_tops[qi] = {r.id for r in rr}
        enc.unpersist()
        code_bytes = m * nbits / 8
        pq_rows.append(
            (m, nbits, code_bytes, recall(adc_tops), recall(rr_tops), shortlist)
        )
        print(
            f"pq m={m} nbits={nbits}: adc={pq_rows[-1][3]:.3f} "
            f"rerank={pq_rows[-1][4]:.3f}"
        )

    from _sections import replace_section

    md = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "BASELINE.md",
    )
    ivf_tbl = "\n".join(
        f"| {p} / {NLIST} | {r:.3f} | {f:.0%} |" for p, r, f in ivf_rows
    )
    pq_tbl = "\n".join(
        f"| m={m} nbits={b} | {cb:.0f} B | {adc:.3f} | {rr:.3f} (top-{s}) |"
        for m, b, cb, adc, rr, s in pq_rows
    )
    replace_section(
        md,
        "## ANN recall/size operating points",
        "## ANN recall/size operating points\n\n"
        f"sf_dir={sf_dir}, {n} vectors, dim {DIM}, recall@10 vs exact cosine "
        "top-10 averaged over 10 fixed corpus queries; deterministic "
        "training (hash sample + farthest-point init). The driver gates "
        "pin the exact settings; these are the approximate operating "
        "points (scripts/ann_recall.py).\n\n"
        f"IVF ({NLIST} lists, exact re-rank inside probed lists — recall "
        "monotone in nprobe by construction):\n\n"
        "| nprobe | recall@10 | corpus scanned |\n|---|---|---|\n"
        f"{ivf_tbl}\n\n"
        "PQ (ADC scores over codes; re-rank = exact cosine over the ADC "
        "shortlist, the q_pq_rerank shape):\n\n"
        "| codebook | code size | ADC-only recall | shortlist re-rank |\n"
        "|---|---|---|---|\n"
        f"{pq_tbl}\n\n",
    )


if __name__ == "__main__":
    main()
